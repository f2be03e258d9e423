package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions._

/** SQL-surface registration of the native expressions, so `spark.sql`
  * users get the same operators as the Column API:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *   spark.sql("SELECT simhash64(text), array_dot(a, b) FROM docs")
  *
  * (The `SparkSessionExtensions` hook is also where a custom
  * Rule/Strategy would be injected; this engine deliberately needs
  * none — SURVEY §4.1: Catalyst covers every reference capability.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** (SQL name, expression class, builder) — the one list both the
    * builder-time extension and [[register]] install. */
  private val functions
      : Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("simhash64", classOf[SimHash64], args => SimHash64(args.head)),
    ("array_dot", classOf[ArrayDot], args => ArrayDot(args(0), args(1))),
    ("lsh_buckets", classOf[LshBucketsExpr], args => LshBucketsExpr(
      args(0), intArg(args(1), "tables"), intArg(args(2), "bits"))),
    ("minhash_sig", classOf[MinHashSigExpr], args => MinHashSigExpr(
      args(0), intArg(args(1), "perms"))),
    ("intersect_count", classOf[IntersectCountExpr],
      args => IntersectCountExpr(args(0), args(1))),
    ("text_shingles", classOf[TextShinglesExpr], args => TextShinglesExpr(
      args(0), intArg(args(1), "n"))),
    ("band_keys", classOf[BandKeysExpr], args => BandKeysExpr(
      args(0), intArg(args(1), "bands"), intArg(args(2), "rows"))),
    ("minhash_band_keys", classOf[MinHashBandKeysExpr],
      args => MinHashBandKeysExpr(args(0), intArg(args(1), "perms"),
        intArg(args(2), "bands"))))

  /** Runtime registration for an ALREADY-built session (builder-time
    * extensions only apply to new sessions; `getOrCreate` on an existing
    * one ignores `withExtensions`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
