package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run (see `perfbench/run.py`,
  * which builds this program and launches it). */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, inject: Set[String])

/** JVM side of the benchmark: sets up, drives one workload against the
  * program's public API, and writes every raw sample to
  * `<work>/jvm.json` for `run.py` to check and summarize. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("work"),
      kv.getOrElse("inject", "").split(",").filter(_.nonEmpty).toSet)
    val result = o.workload match {
      case "relational" => Batch.run(o)
      case "stream_ingest" => StreamIngest.run(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // every span and sample of the run is kept in memory until here and
    // written once, under one run id
    val out = Paths.get(o.work, "jvm.json")
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writeValue(out.toFile,
      result + ("run_id" -> java.util.UUID.randomUUID.toString))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** The session every workload runs on: the repo's bench configuration
    * on all local cores, with scratch space kept inside the work dir. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Set up three times — stop any running session, start a new one,
    * then `prepare` it — so the reported median is steady; returns the
    * last session and the seconds each set-up took. */
  def setUp(work: String)(prepare: SparkSession => Unit)
      : (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (0 until 3).map { _ =>
      timed {
        SparkSession.getDefaultSession.foreach(_.stop())
        spark = session(work)
        prepare(spark)
      }._2
    }
    (spark, times)
  }

  /** The layer probes a traced run adds. */
  def probes(o: Opts, spark: SparkSession): Map[String, Any] =
    if (!o.trace) Map.empty
    else Map("kernels" -> KernelProbe.run(o.seed), "sink" -> SinkProbe.run(spark))

  /** Run `body`, returning its result and elapsed seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Name prefixes (as the kernel truncates them) of the JVM's own JIT
    * compiler and garbage collector threads. */
  private val ServiceThreads = Seq("C1 CompilerThre", "C2 CompilerThre",
    "GC Thread", "G1 ", "VM Thread")
  private val isService = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]

  /** CPU time of the process, in ms, less that of the JIT compiler and
    * GC threads: on a JVM still warming up their bursts land in random
    * operations. Everything else counts: the calling thread, Spark's
    * task, scheduler, dispatcher, result and broadcast threads, and the
    * CPU of threads that have ended. Process CPU only goes up, so a
    * difference of two samples is never negative. Unlike wall time it
    * leaves out time spent waiting for a CPU, so on a shared host it
    * varies less. Service threads are found through `/proc/self/task`
    * (Linux; elsewhere nothing is subtracted); their runtime comes from
    * `schedstat`, in ns. Compiler threads must not exit (`run.py` turns
    * off the dynamic compiler thread count), or their CPU would leave the
    * subtrahend. */
  def workCpuMs(): Double = (os.getProcessCpuTime - serviceCpuNs()) / 1e6

  private def serviceCpuNs(): Long = {
    val tasks = new java.io.File("/proc/self/task").list()
    if (tasks == null) return 0L
    var sum = 0L
    tasks.foreach { tid =>
      try {
        val svc = isService.computeIfAbsent(tid, _ => {
          val comm = new String(Files.readAllBytes(
            Paths.get(s"/proc/self/task/$tid/comm"))).trim
          java.lang.Boolean.valueOf(ServiceThreads.exists(comm.startsWith))
        })
        if (svc) sum += new String(Files.readAllBytes(
          Paths.get(s"/proc/self/task/$tid/schedstat")))
          .split(' ')(0).toLong
      } catch { case _: java.io.IOException => () } // thread just ended
    }
    sum
  }

  /** Exception class and first message line, for failure records. */
  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).map(_.linesIterator.nextOption()
      .getOrElse("")).getOrElse("")
    s"${e.getClass.getName}: ${msg.take(300)}"
  }
}

/** Peak live heap: heap in use right after a full collection, sampled at
  * fixed points between operations (after each pass or phase), so it
  * measures what the program retains rather than when the collector
  * happened to run. */
final class HeapPeak {
  var peakMb = 0.0
  def sample(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakMb = math.max(peakMb, used / 1048576.0)
  }
}
