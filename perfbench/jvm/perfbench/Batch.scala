package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Release, SparkEntry}

/** The relational workload: a closed loop with one client that calls
  * each query function of `SparkEntry.queries` and materializes its
  * result through the `noop` sink, in a seed-shuffled order. */
object Batch {

  /** The paper's verification surface (delivery gap, double write,
    * highwater, the pipeline's ok and DLQ branches) plus relational
    * breadth (star join, as-of join), on sf0.1-shaped fixtures. Eight
    * queries: a cold pass and about two measured passes fit in one run on
    * four cores. */
  val Relational = Seq("q_delivery_gap", "q_double_write",
    "q_highwater_typed", "q_gap_by_window", "q_pipeline_ok",
    "q_pipeline_dlq", "q_revenue_by_nation", "q_asof_join")

  val Sf = 0.1

  /** Query that always throws; added by `--inject query-throws` so the
    * self-tests can show that a failing operation is counted. */
  val Injected = "q_injected_fault"

  def run(o: Opts): Map[String, Any] = {
    val names = Relational ++
      (if (o.inject("query-throws")) Seq(Injected) else Nil)
    val fns: Map[String, (SparkSession, String) => DataFrame] =
      SparkEntry.queries + (Injected -> ((_: SparkSession, _: String) =>
        throw new IllegalStateException("injected fault")))
    val data = s"${o.work}/data"
    val rng = new scala.util.Random(o.seed)

    // the inputs are generated once, before the set-ups and timed apart:
    // writing them is the benchmark's work, which no change to the
    // program moves; a set-up is a fresh session plus one warm-up query
    val genS = Main.timed(Gen.writeFixtures(Main.session(o.work), data,
      o.seed, Sf))._2
    val (spark, setups) = Main.setUp(o.work) { spark =>
      fns("q_delivery_gap")(spark, data).write.format("noop")
        .mode("overwrite").save()
      Release.transients()
    }

    val heap = new HeapPeak
    val ops = Vector.newBuilder[Map[String, Any]]
    val tracer = if (o.trace) Some(new Tracer(spark)) else None

    def op(name: String, phase: String, traced: Boolean,
        write: DataFrame => Unit): Unit = {
      if (traced) tracer.get.attach()
      val startMs = System.currentTimeMillis().toDouble
      val cpu0 = Main.workCpuMs()
      val t0 = System.nanoTime()
      var t1 = t0
      var df: DataFrame = null
      val err = try {
        df = fns(name)(spark, data)
        t1 = System.nanoTime()
        write(df)
        None
      } catch { case e: Throwable => Some(Main.describe(e)) }
      val t2 = System.nanoTime()
      val cpu = Main.workCpuMs() - cpu0
      val base = Map("kind" -> name, "phase" -> phase, "traced" -> traced,
        "start_ms" -> startMs, "wall_ms" -> (t2 - t0) / 1e6, "cpu_ms" -> cpu,
        "construct_ms" -> (t1 - t0) / 1e6, "ok" -> err.isEmpty,
        "error" -> err)
      val traceFields = if (!traced) Map.empty else {
        val t = tracer.get
        if (df != null) t.addAnalyzed(df.queryExecution)
        val (spans, counters) = t.collect(name, startMs,
          startMs + (t1 - t0) / 1e6, startMs + (t2 - t0) / 1e6)
        t.detach()
        Map("spans" -> spans.map(_.toMap), "counters" -> counters)
      }
      Release.transients()
      ops += base ++ traceFields
    }

    // first answer to every query after the restart; the results are
    // kept for the oracle check
    val coldOrder = rng.shuffle(names)
    val catchup = Main.timed(coldOrder.foreach(n => op(n, "cold", false,
      _.write.mode("overwrite").parquet(s"${o.work}/out/$n"))))._2
    heap.sample()

    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

    // measured closed loop: whole shuffled passes, at least one, until
    // the time is up; a traced run pairs each untraced call with a traced
    // one, alternating which goes first, so the tracing overhead is
    // measured on the same queries
    val order = Vector.newBuilder[String]
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      val names0 = rng.shuffle(names)
      names0.zipWithIndex.foreach { case (n, i) =>
        if (pass == 0 || System.nanoTime() < deadline) {
          order += n
          val tracedFirst = o.trace && (pass + i) % 2 == 1
          if (tracedFirst) op(n, "measure", true, noop)
          op(n, "measure", false, noop)
          if (o.trace && !tracedFirst) op(n, "measure", true, noop)
        }
      }
      pass += 1
      heap.sample()
    }

    val probes = Main.probes(o, spark)
    Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "setup_s" -> setups, "gen_s" -> genS, "catchup_s" -> catchup,
      "heap_peak_mb" -> heap.peakMb,
      "cold_order" -> coldOrder, "measure_order" -> order.result(),
      "table_rows" -> Gen.fixtureRows(Sf),
      "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n)
        .map(n -> _)).toMap,
      "ops" -> ops.result(), "probes" -> probes)
  }
}
