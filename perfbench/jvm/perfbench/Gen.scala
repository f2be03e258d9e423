package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (seed, row
  * id, column slot), so the same seed yields byte-identical tables no
  * matter how Spark partitions the generation. The program under test
  * only ever sees the written parquet files. */
object Gen {

  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def uniform(seed: Long, id: Long, slot: Int, m: Long): Long =
    java.lang.Math.floorMod(mix(mix(seed * 1000003L + slot) ^ id), m)

  // ---- sf-scaled star schema + events (the layout of FIXTURES.md) ----
  //
  // Distributions follow the seed-42 fixture tables of FIXTURES.md, as
  // measured at sf0.1: every foreign key, flag and amount is drawn independently and
  // uniformly (so lineitem is not grouped by order: ~4 lines per order,
  // Poisson); order dates span 1995-01-01..2001-08-01 and ship dates
  // 1995-01-02..2001-11-04, independently; events come every 25.9 s on
  // average (exponential gaps) from 2024-01-01, from 1,500 users drawn
  // per event, with exponential values of mean 50.

  /** Row counts per table at scale factor `sf` (sf 0.1 = 600k lineitem). */
  def fixtureRows(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> (150000 * sf).toLong, "supplier" -> (10000 * sf).toLong,
    "part" -> (200000 * sf).toLong, "orders" -> (1500000 * sf).toLong,
    "lineitem" -> (6000000 * sf).toLong, "events" -> (1000000 * sf).toLong)

  /** Write the eight relational tables as `<dir>/<name>.parquet`. */
  def writeFixtures(spark: SparkSession, dir: String, seed: Long,
      sf: Double): Unit = {
    val rows = fixtureRows(sf)
    def h(slot: Int): Column = xxhash64(lit(seed), col("id"), lit(slot))
    def uni(slot: Int, m: Long): Column = pmod(h(slot), lit(m))
    def pick(slot: Int, xs: String*): Column =
      element_at(array(xs.map(lit): _*), (uni(slot, xs.size) + 1).cast("int"))
    def cents(slot: Int, lo: Long, hi: Long): Column =
      ((uni(slot, hi - lo + 1) + lo) / 100.0).cast("double")
    // timestamps are zone-less, as in the fixtures (parquet
    // timestamp[us], isAdjustedToUTC = false; Spark reads TIMESTAMP_NTZ)
    def day(slot: Int, first: Long, days: Long): Column = // midnight
      timestamp_seconds((uni(slot, days) + first) * 86400L).cast("timestamp_ntz")
    /** Uniform in (0, 1). */
    def unit(slot: Int): Column = (uni(slot, 1L << 40) + 0.5) / (1L << 40).toDouble
    def exponential(slot: Int, mean: Double): Column = -log(-unit(slot) + 1) * mean
    def range(n: Long) = spark.range(0, n, 1, 1)
    val n = rows
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> range(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
          "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast("int"))
          .as("r_name")),
      "nation" -> range(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> range(n("customer")).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        uni(1, 25).cast("int").as("c_nationkey"),
        cents(2, -99999, 999999).as("c_acctbal"),
        pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY").as("c_mktsegment")),
      "supplier" -> range(n("supplier")).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        uni(11, 25).cast("int").as("s_nationkey"),
        cents(12, -99999, 999999).as("s_acctbal")),
      "part" -> range(n("part")).select(col("id").as("p_partkey"),
        concat_ws(" ", pick(1, "large", "hot", "blue", "small", "red",
          "old", "new", "cold"), pick(2, "ring", "bolt", "gear", "widget",
          "gizmo", "plate", "rod", "anvil")).as("p_name"),
        concat(lit("Brand#"), uni(3, 25) + 1).as("p_brand"),
        pick(4, "LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
          "PROMO").as("p_type"),
        (uni(5, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")),
      "orders" -> range(n("orders")).select(col("id").as("o_orderkey"),
        uni(1, n("customer")).as("o_custkey"),
        pick(2, "O", "F", "P").as("o_orderstatus"),
        cents(3, 100000, 50000000).as("o_totalprice"),
        day(4, 9131, 2405).as("o_orderdate"), // from 1995-01-01
        pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW").as("o_orderpriority")),
      "lineitem" -> range(n("lineitem")).select(
        uni(1, n("orders")).as("l_orderkey"),
        uni(2, n("part")).as("l_partkey"),
        uni(3, n("supplier")).as("l_suppkey"),
        (uni(4, 7) + 1).cast("int").as("l_linenumber"),
        (uni(5, 50) + 1).cast("double").as("l_quantity"),
        cents(6, 90000, 10500000).as("l_extendedprice"),
        cents(7, 0, 10).as("l_discount"),
        cents(8, 0, 8).as("l_tax"),
        pick(9, "A", "N", "R").as("l_returnflag"),
        pick(10, "O", "F").as("l_linestatus"),
        day(11, 9132, 2499).as("l_shipdate")), // from 1995-01-02
      // event time never decreases with event_id: a running sum of
      // exponential gaps (µs) over the single generating partition
      "events" -> range(n("events")).select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + sum(
          floor(exponential(1, 25919800.0))).over(Window.orderBy("id")))
          .cast("timestamp_ntz").as("ts"),
        uni(2, math.max(1L, n("events") * 15 / 1000)).as("user_id"),
        pick(3, "view", "click", "purchase", "signup", "error")
          .as("event_type"),
        round(exponential(4, 50.0), 2).as("value"),
        format_string("{\"k\": %d}", uni(5, 100)).as("props")))
    writeAll(dir, tables)
  }

  // ---- rows for the kernel probe ----

  val Dim = 64
  private val Stop = Array("the", "a", "of", "and")

  /** 40–120 tokens: ~12 % stopwords, the rest from a 4096-word vocabulary. */
  def docText(seed: Long, id: Long): String = {
    val len = 40 + uniform(seed, id, 100, 81).toInt
    Array.tabulate(len) { j =>
      val r = uniform(seed, id * 131 + j, 101, 1000)
      if (r < 120) Stop((r % 4).toInt)
      else "w" + uniform(seed, id * 131 + j, 102, 4096)
    }.mkString(" ")
  }

  /** A `Dim`-dimensional vector, components uniform in [-0.25, 0.25]. */
  def vector(seed: Long, id: Long): Array[Float] =
    Array.tabulate(Dim) { d =>
      (uniform(seed, id * 257 + d, 200, 2001) - 1000) / 4000.0f
    }

  /** Writes the tables concurrently, each as one single-partition job:
    * one file per table, as in the fixtures of FIXTURES.md (a single-file
    * table scans as one partition, which the operators' plans assume). */
  private def writeAll(dir: String, tables: Seq[(String, DataFrame)]): Unit = {
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    tables.map { case (name, df) => scala.concurrent.Future {
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    } }.foreach(scala.concurrent.Await.result(_,
      scala.concurrent.duration.Duration.Inf))
  }
}
