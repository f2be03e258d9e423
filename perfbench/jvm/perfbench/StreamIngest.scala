package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.sources.KafkaRecords
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.ParseStage

/** A Kafka message as the Kafka source presents it. */
final case class KafkaRow(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: Timestamp)

object KafkaRow {
  implicit val encoder: org.apache.spark.sql.Encoder[KafkaRow] =
    org.apache.spark.sql.Encoders.product[KafkaRow]
}

/** The reference's demo topology, write side: Kafka-shaped rows → a
  * `MemoryStream` → `KafkaRecords.toRecords` → a JSON parse stage with
  * seeded poison → `StreamingPipeline.dualWrite` (ok + DLQ parquet) →
  * checkpoint commit. Three phases:
  *  1. open loop: one generator thread offers a fixed rate below capacity
  *     on a fixed schedule and stamps every event with its due time;
  *  2. closed-loop drain: a fixed backlog offered at once, the next one
  *     as soon as the previous is committed;
  *  3. restart-from-checkpoint catch-up, repeated.
  * Batch progress comes from a `StreamingQueryListener`. */
object StreamIngest {
  val Partitions = 4
  val RatePerS = 2000
  val TickMs = 20
  val DrainRows = 20000
  val DrainRounds = 5
  val CatchupRows = 10000
  val Cycles = 3
  val WarmBatches = 3
  /** One row in `PoisonPerMille`/1000 carries an unparseable payload. */
  val PoisonPerMille = 50

  /** Demo-shaped parse stage: a JSON payload must carry a numeric "k". */
  def stage: ParseStage = {
    val payload = decode(col("value"), "UTF-8")
    ParseStage(
      valid = payload.rlike("\"k\": [0-9]+"),
      parsed = Seq(col("partition"), col("offset"),
        regexp_extract(payload, "\"k\": ([0-9]+)", 1).cast("long").as("k"),
        timestamp_millis(col("timestampMs")).as("ts")))
  }

  /** The records a Kafka source would deliver. MemoryStream makes one
    * Spark partition per `addData` call, where the Kafka source makes one
    * per topic partition, so the offers are coalesced to that count. */
  def source(s: MemoryStream[KafkaRow]) =
    KafkaRecords.toRecords(s.toDF().coalesce(Partitions)).toDF()

  /** Progress of one micro-batch, as the listener saw it. */
  final case class Batch(id: Long, startMs: Double, durations: Map[String, Double],
      rows: Long, fromOffset: Long, toOffset: Long, cpuMs: Double) {
    def commitMs: Double = startMs + durations.getOrElse("triggerExecution", 0.0)
  }

  private final class Progress extends StreamingQueryListener {
    val batches = mutable.ArrayBuffer[Batch]()
    @volatile var committed = -1L
    /** Work CPU at the previous progress event or query start: the CPU
      * between two events is the micro-batch's (triggers run back to
      * back). */
    @volatile var lastCpu = Main.workCpuMs()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def off(s: String) = Option(s).filter(_ != "null").map(_.trim.toLong)
        .getOrElse(-1L)
      val src = p.sources.head
      val cpu = Main.workCpuMs()
      val b = Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap,
        p.numInputRows, off(src.startOffset), off(src.endOffset), cpu - lastCpu)
      lastCpu = cpu
      synchronized { batches += b }
      if (b.toOffset > committed) committed = b.toOffset
    }
  }

  def run(o: Opts): Map[String, Any] = {
    val base = s"${o.work}/stream"
    val (okDir, dlqDir, ckpt) = (s"$base/ok", s"$base/dlq", s"$base/ckpt")
    // set-up: warm the parse and write path on a scratch query, a few
    // micro-batches of open-loop size
    val (spark, setups) = Main.setUp(o.work) { spark =>
      val warm = s"$base/warm${System.nanoTime()}"
      val w = MemoryStream[KafkaRow](spark)
      val q = StreamingPipeline.dualWrite(source(w), stage, s"$warm/ok",
        s"$warm/dlq", s"$warm/ckpt", Trigger.ProcessingTime(0L))
      (0 until WarmBatches).foreach { b =>
        w.addData((0 until 2000).map(i => KafkaRow(null,
          (if (i % 20 == 0) s"poison-$i" else s"""{"k": $i}""").getBytes,
          "warm", i % Partitions, b * 2000L + i, new Timestamp(0L))))
        q.processAllAvailable()
      }
      q.stop()
    }
    val stream = MemoryStream[KafkaRow](spark)

    val progress = new Progress
    spark.streams.addListener(progress)
    val heap = new HeapPeak
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    var tracedFromMs = Double.MaxValue

    // generator: offsets per partition, poison drawn from the seed
    val expected = mutable.ArrayBuffer[(Int, Long, Boolean)]()
    val nextOffset = Array.fill(Partitions)(0L)
    val offers = mutable.ArrayBuffer[(Long, Double, Int)]() // (mem offset, due, rows)
    var seq = 0L
    def rows(n: Int, dueMs: Double, drop: Boolean = false): Seq[KafkaRow] = {
      val out = (0 until n).map { _ =>
        val p = (seq % Partitions).toInt
        val off = nextOffset(p)
        nextOffset(p) += 1
        val poison = Gen.uniform(o.seed, seq, 400, 1000) < PoisonPerMille
        val payload =
          if (poison) s"poison-$seq"
          else s"""{"k": ${Gen.uniform(o.seed, seq, 401, 1000000)}, "seq": $seq}"""
        seq += 1
        expected += ((p, off, poison))
        KafkaRow(null, payload.getBytes("UTF-8"), "demo", p, off,
          new Timestamp(dueMs.toLong))
      }
      if (drop) out.drop(1) else out
    }
    def offer(batch: Seq[KafkaRow], dueMs: Double): Long = {
      val off = stream.addData(batch).toString.trim.toLong
      offers += ((off, dueMs, batch.size))
      off
    }
    def start(): StreamingQuery = {
      progress.lastCpu = Main.workCpuMs()
      StreamingPipeline.dualWrite(
        source(stream), stage, okDir, dlqDir, ckpt, Trigger.ProcessingTime(0L))
    }
    def await(target: Long): Unit = {
      val limit = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (progress.committed < target) {
        if (System.nanoTime() > limit)
          throw new IllegalStateException(s"offset $target never committed")
        Thread.sleep(2)
      }
    }
    def nowMs = System.currentTimeMillis().toDouble
    def committedAt(offset: Long) = progress.synchronized(
      progress.batches.filter(_.toOffset >= offset).map(_.commitMs).min)
    val phases = mutable.ArrayBuffer[(String, Double)]() // (phase, start)

    // 1. open loop; a traced run traces its second half and what follows
    var query = start()
    val openMs = o.seconds * 1000
    val ticks = (openMs / TickMs).toInt
    val perTick = RatePerS * TickMs / 1000
    var lateMax = 0.0
    val t0 = nowMs + 50
    phases += (("open", t0))
    var last = -1L
    for (t <- 0 until ticks) {
      val due = t0 + t.toDouble * TickMs
      if (o.trace && t == ticks / 2) {
        tracer.get.attach(); tracedFromMs = nowMs
      }
      val wait = due - nowMs
      if (wait > 0) Thread.sleep(wait.toLong)
      lateMax = math.max(lateMax, nowMs - due)
      last = offer(rows(perTick, due), due)
    }
    await(last)
    heap.sample()

    // 2. drain backlogs offered at once (one offer, so one micro-batch)
    // to the running query, each as soon as the previous one committed
    val drainStart = nowMs
    phases += (("drain", drainStart))
    (0 until DrainRounds).foreach { r =>
      val due = nowMs
      last = offer(rows(DrainRows, due, drop = r == 0 && o.inject("drop-row")),
        due)
      await(last)
    }
    val drainEnd = committedAt(last)
    heap.sample()

    // 3. stop, let a backlog build, restart from the checkpoint
    val catchups = (0 until Cycles).map { _ =>
      query.stop()
      val due = nowMs
      last = offer(rows(CatchupRows, due), due)
      val restart = nowMs
      phases += (("catchup", restart))
      query = start()
      await(last)
      heap.sample()
      (committedAt(last) - restart) / 1000
    }
    query.stop()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val batches = progress.synchronized(progress.batches.toVector)
      .filter(_.rows > 0)
    def phaseOf(b: Batch) = phases.findLast(_._2 <= b.startMs + 1)
      .map(_._1).getOrElse("open")
    val prepKeys = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning")
    val ops = batches.map { b =>
      val trig = b.durations.getOrElse("triggerExecution", 0.0)
      val prep = prepKeys.map(b.durations.getOrElse(_, 0.0)).sum
      val traced = b.startMs >= tracedFromMs
      val base = Map("kind" -> phaseOf(b), "phase" -> "measure",
        "traced" -> traced, "start_ms" -> b.startMs, "wall_ms" -> trig,
        "cpu_ms" -> b.cpuMs,
        "construct_ms" -> prep, "ok" -> true, "error" -> None,
        "batch" -> b.id, "rows" -> b.rows, "durations" -> b.durations,
        "from_offset" -> b.fromOffset, "to_offset" -> b.toOffset)
      if (!traced) base else {
        var t = b.startMs
        val extra = (prepKeys ++ Seq("addBatch", "commitOffsets")).map { k =>
          val d = b.durations.getOrElse(k, 0.0)
          val s = Span(0, 0, "stream", k, t, t + d)
          t += d
          s
        }
        val (spans, counters) = tracer.get.collect(phaseOf(b), b.startMs,
          b.startMs + prep, b.startMs + trig, extra)
        base ++ Map("spans" -> spans.map(_.toMap), "counters" -> counters)
      }
    }
    tracer.foreach(_.detach())

    val check = verify(spark, okDir, dlqDir, ckpt, expected.toSeq, last)
    val probes = Main.probes(o, spark)
    Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "setup_s" -> setups, "catchup_s" -> catchups,
      "heap_peak_mb" -> heap.peakMb,
      "ops" -> ops, "probes" -> probes,
      "offers" -> offers.map { case (off, due, n) =>
        Seq(off.toDouble, due, n.toDouble) },
      "drain" -> Map("rows" -> DrainRows * DrainRounds, "start_ms" -> drainStart,
        "commit_ms" -> drainEnd),
      "gen_late_ms_max" -> lateMax,
      "events" -> expected.size, "check" -> check)
  }

  /** Every generated offset must land exactly once, poison rows only in
    * the DLQ and the rest only in the ok branch, and the checkpoint's last
    * committed source offset must be the generator's last one. */
  private def verify(spark: SparkSession, okDir: String, dlqDir: String,
      ckpt: String, expected: Seq[(Int, Long, Boolean)],
      lastOffset: Long): Map[String, Any] = {
    import spark.implicits._
    val got = spark.read.parquet(okDir).select($"partition", $"offset",
        lit(false).as("dlq"))
      .union(spark.read.parquet(dlqDir).select($"partition", $"offset",
        lit(true).as("dlq")))
      .groupBy($"partition", $"offset")
      .agg(count(lit(1)).as("n"), max($"dlq").as("dlq"))
    val exp = expected.toDF("partition", "offset", "poison")
    val j = exp.join(got, Seq("partition", "offset"), "full_outer")
    val bad = j.where($"n".isNull || $"poison".isNull || $"n" =!= 1 ||
      $"dlq" =!= $"poison")
    val stats = bad.agg(
      count(lit(1)),
      sum(when($"n".isNull, 1).otherwise(0)),
      sum(when($"poison".isNull, 1).otherwise(0)),
      sum(when($"n" > 1, 1).otherwise(0)),
      sum(when($"dlq" =!= $"poison", 1).otherwise(0))).head()
    def l(i: Int) = if (stats.isNullAt(i)) 0L else stats.getLong(i)
    val offsetsDir = Paths.get(ckpt, "offsets")
    val lastBatch = Files.list(offsetsDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.forall(_.isDigit)).map(_.toLong).max
    val ckptOffset = Files.readAllLines(offsetsDir.resolve(lastBatch.toString))
      .asScala.last.trim.toLong
    val committed = Files.exists(Paths.get(ckpt, "commits", lastBatch.toString))
    Map("bad" -> l(0), "missing" -> l(1), "unexpected" -> l(2),
      "duplicated" -> l(3), "misrouted" -> l(4),
      "checkpoint_offset" -> ckptOffset, "generator_offset" -> lastOffset,
      "checkpoint_ok" -> (committed && ckptOffset == lastOffset))
  }
}
