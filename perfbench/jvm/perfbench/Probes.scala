package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{SimHash, VecOps}
import graft.streaming.HttpBatchSink

/** The `functions` layer alone: a Spark-free loop calling each native
  * kernel directly on seeded generated rows (`Gen.docText`,
  * `Gen.vector`), with the parameters the dedup queries use. A kernel regression shows here
  * without any plan in the way. */
object KernelProbe {
  private val Rows = 2000
  private val SliceNs = 250L * 1000 * 1000

  /** Calls `f(i)` over the rows for one time slice (after one warm-up
    * pass); rows per second, and a checksum that keeps the calls live. */
  private def rate(f: Int => Long): (Double, Long) = {
    var sink = 0L
    var i = 0
    while (i < Rows) { sink += f(i); i += 1 }
    var n = 0L
    val t0 = System.nanoTime()
    var t = t0
    while (t - t0 < SliceNs) {
      sink += f((n % Rows).toInt)
      n += 1
      if ((n & 63) == 0) t = System.nanoTime()
    }
    (n / ((System.nanoTime() - t0) / 1e9), sink)
  }

  def run(seed: Long): Map[String, Any] = {
    val texts = Array.tabulate(Rows)(i =>
      UTF8String.fromString(Gen.docText(seed, i.toLong)))
    val shingles = texts.map(VecOps.textShingles(_, 3))
    val vecs = Array.tabulate(Rows)(i => Gen.vector(seed, i.toLong))
    val vdata = vecs.map(v => UnsafeArrayData.fromPrimitiveArray(v))
    val norms = vecs.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))
    // eight seed centroids (q_semantic_dedup's codebook shape)
    val cents = vecs.take(8).map(_.map(_.toDouble))
    val cnorms = norms.take(8)
    val ids = Array.tabulate(8)(_.toLong)
    // PQ: 8 subspaces x 4 codes over the 64 dims (q_ivfpq_topk's shape)
    val pq = Array.tabulate(8, 4)((m, c) =>
      vecs(c).slice(m * 8, m * 8 + 8).map(_.toDouble))
    val codes = Array.tabulate(Rows)(i => UnsafeArrayData.fromPrimitiveArray(
      Array.tabulate(8)(m => Gen.uniform(seed, i.toLong, 300 + m, 4))))
    val results = Seq(
      "text_shingles" -> rate(i => VecOps.textShingles(texts(i), 3).numElements()),
      "minhash_sig" -> rate(i => VecOps.minhashSig(shingles(i), 128).getLong(0)),
      "intersect_count" -> rate(i =>
        VecOps.intersectCount(shingles(i), shingles((i + 1) % Rows))),
      "simhash64" -> rate(i => SimHash.eval(texts(i))),
      "winnow_fps" -> rate(i => VecOps.winnowFps(texts(i), 4, 4).numElements()),
      "nearest_centroid" -> rate(i => VecOps.nearestCentroid(vdata(i), true,
        norms(i), ids, cents, cnorms).getLong(0)),
      "pq_adc" -> rate(i => java.lang.Double.doubleToLongBits(
        VecOps.pqAdc(vdata(i), true, codes(i), pq))))
    results.map { case (k, (r, chk)) =>
      k -> Map("rows_per_s" -> r, "checksum" -> chk) }.toMap
  }
}

/** `streaming.HttpBatchSink` against an in-process HTTP stand-in for
  * ClickHouse: it acks with the `x-clickhouse-summary` header and answers
  * every `FailEvery`-th request with a transient 503, so the same-body
  * retry path runs on a fixed schedule. */
object SinkProbe {
  private val FailEvery = 7
  private val Calls = 5
  private val RowsPerCall = 20000L

  def run(spark: SparkSession): Map[String, Any] = {
    val requests = new AtomicLong
    val fails = new AtomicLong
    val acked = new AtomicLong
    val bytes = new AtomicLong
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (x: HttpExchange) => {
      val body = x.getRequestBody.readAllBytes()
      bytes.addAndGet(body.length)
      if (requests.incrementAndGet() % FailEvery == 3) {
        fails.incrementAndGet()
        x.sendResponseHeaders(503, -1)
      } else {
        val rows = body.count(_ == '\n'.toByte)
        acked.addAndGet(rows)
        x.getResponseHeaders.add("x-clickhouse-summary",
          s"""{"read_rows":"$rows","written_rows":"$rows"}""")
        val ok = "Ok.\n".getBytes(StandardCharsets.UTF_8)
        x.sendResponseHeaders(200, ok.length)
        x.getResponseBody.write(ok)
      }
      x.close()
    })
    server.start()
    try {
      val cfg = HttpBatchSink.Config(
        s"http://127.0.0.1:${server.getAddress.getPort}/")
      val df = spark.range(0, RowsPerCall, 1, 4)
        .select(col("id").as("offset"), (col("id") % 4).as("partition"),
          concat(lit("payload-"), col("id")).as("value"))
      val times = (0 until Calls).map(_ =>
        Main.timed(HttpBatchSink.writeBatch(df, cfg))._2 * 1000)
      Map("write_ms" -> times, "posts" -> requests.get, "retries" -> fails.get,
        "bytes" -> bytes.get, "rows_sent" -> Calls * RowsPerCall,
        "rows_acked" -> acked.get)
    } finally server.stop(0)
  }
}
