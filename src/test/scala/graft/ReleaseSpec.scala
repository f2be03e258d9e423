package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** The intermediate lifetime in [[graft.Release]]: every operator that
  * pins a persisted or checkpointed intermediate releases it through the
  * one registry, and scopes keep concurrent callers apart. */
class ReleaseSpec extends SparkSpecBase {

  /** Thread A builds `op` without materializing it; thread B then builds
    * and collects the same operator (and leaves its scope); only then
    * does A collect. Returns both row counts. */
  private def interleaved(op: (SparkSession, String) => DataFrame)
      : (Long, Long) = {
    val aBuilt = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    val rows = new AtomicReference[(Long, Long)]((-1L, -1L))
    val failure = new AtomicReference[Throwable]
    def run(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body catch { case e: Throwable => failure.compareAndSet(null, e) }
        finally { aBuilt.countDown(); bDone.countDown() })
      t.start()
      t
    }
    val a = run(Release.scoped {
      val df = op(spark, sfDir)
      aBuilt.countDown()
      bDone.await()
      val n = df.collect().length.toLong
      rows.updateAndGet(r => (n, r._2))
    })
    val b = run {
      aBuilt.await()
      Release.scoped {
        val n = op(spark, sfDir).collect().length.toLong
        rows.updateAndGet(r => (r._1, n))
      }
      bDone.countDown()
    }
    a.join()
    b.join()
    Option(failure.get).foreach(e => throw e)
    rows.get
  }

  test("two threads' scopes keep each other's unmaterialized intermediates " +
      "alive") {
    for ((op, expected) <- Seq[((SparkSession, String) => DataFrame, Long)](
        (NearDup.dedupClusters, 500L), (NearDup.pageRank, 45L))) {
      val serial = Release.scoped(op(spark, sfDir).collect().length.toLong)
      assert(serial === expected)
      assert(interleaved(op) === ((serial, serial)))
    }
  }

  /** One operator per module that owns a registry slot, each fully
    * materialized by the count. */
  private val owners: Seq[(String, () => Long)] = Seq(
    "NearDup.dedupClusters" -> (() =>
      NearDup.dedupClusters(spark, sfDir).count()),
    "NearDup.dedupSurvivor" -> (() =>
      NearDup.dedupSurvivor(spark, sfDir).count()),
    "NearDup.winnowNearDup" -> (() =>
      NearDup.winnowNearDup(spark, sfDir).count()),
    // Par.concurrently builds the survivor labels and the k-core on
    // pool threads: their holds must land in the caller's scope
    "NearDup.takedownKcore" -> (() =>
      NearDup.takedownKcore(spark, sfDir).count()),
    "Similarity.labelBucketTopK" -> (() =>
      Similarity.labelBucketTopK(spark, sfDir).count()),
    "Similarity.semanticDedup" -> (() =>
      Similarity.semanticDedup(spark, sfDir).count()),
    "TextOps.sourceOverlap" -> (() =>
      TextOps.sourceOverlap(spark, sfDir).count()),
    "TextOps.curateCorpus" -> (() =>
      TextOps.curateCorpus(spark, sfDir).count()),
    "Corpus.bpeEncode" -> (() => Corpus.bpeEncode(spark, sfDir).count()),
    "Curation.globalShuffle" -> (() =>
      Curation.globalShuffle(spark, sfDir).count()),
    "Multimodal.mediaChunkDedup" -> (() =>
      Multimodal.mediaChunkDedup(spark, sfDir).count()))

  for ((name, run) <- owners)
    test(s"$name pins, then transients() and scope exit free") {
      val sc = spark.sparkContext
      Release.transients() // whatever earlier suites left in the session
      val before = sc.getPersistentRDDs.keySet
      def pinned = sc.getPersistentRDDs.keySet.diff(before)
      run()
      assert(pinned.nonEmpty, s"$name should pin intermediates")
      Release.transients()
      assert(pinned.isEmpty, s"transients() left $pinned pinned")
      Release.transients() // idempotent on an empty slate
      assert(pinned.isEmpty)
      Release.scoped {
        run()
        assert(pinned.nonEmpty, s"$name should pin inside the scope")
      }
      assert(pinned.isEmpty, s"scope exit left $pinned pinned")
    }

  test("a scope frees only its own holds; the default scope keeps its own") {
    val sc = spark.sparkContext
    Release.transients()
    val before = sc.getPersistentRDDs.keySet
    // checkpoints: a persisted plan would share one CacheManager entry
    // across the two scopes
    NearDup.pageRank(spark, sfDir).count() // held in the default scope
    val outside = sc.getPersistentRDDs.keySet.diff(before)
    assert(outside.nonEmpty)
    Release.scoped(NearDup.pageRank(spark, sfDir).count())
    assert(sc.getPersistentRDDs.keySet.diff(before) === outside)
    Release.transients()
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty)
  }
}
