package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the library against options selected by environment variable.
  * Operators compute one plan per query; a second code path behind an
  * env switch doubles what the specs and the bench must cover. Tools
  * and mains (`graft.tools`, `Bench`, `Verify`) read deployment settings
  * from the environment and are not scanned. */
class LibraryOptionsSpec extends AnyFunSuite {

  private val libraryDirs =
    Seq("operators", "functions", "pipeline", "streaming", "sources", "ops")
      .map(d => Paths.get("src/main/scala/graft", d))

  private val envRead = """sys\.env|System\.getenv""".r

  test("library code reads one environment variable: the verify-ids " +
      "broadcast cap") {
    libraryDirs.foreach(d => assert(Files.isDirectory(d), d))
    val hits = libraryDirs.flatMap { d =>
      val files = Files.walk(d)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .toVector
      finally files.close()
    }.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if envRead.findFirstIn(line).isDefined =>
          s"${f.getFileName}:${i + 1}: ${line.trim}"
      }
    }
    // the cap's fate belongs to the broadcast-hint review (ROADMAP
    // Direction 3); any other hit is a new option
    assert(hits.size === 1, hits.mkString("\n"))
    assert(hits.head.startsWith("NearDup.scala:") &&
      hits.head.contains("SPARK_GRAFT_VERIFY_IDS_CAP"), hits.head)
  }
}
