package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one lifetime for operator intermediates.
  *
  * Several operators hand a lazily-evaluated plan back to the caller
  * while that plan still reads a persisted or locally-checkpointed
  * intermediate (LSH candidate pairs, component labels, cached cell
  * assignments, …). Each such operator [[hold]]s those frames under a
  * slot name. The registry is keyed by (scope, slot): a hold frees the
  * frames the SAME slot held in the SAME scope, then records the new
  * ones, so outside any [[scoped]] block a long-lived session keeps at
  * most one generation per slot — the previous invocation's blocks go
  * when the operator runs again, the last invocation's stay pinned
  * until [[transients]] or the next run.
  *
  * Freeing comes FIRST because of persisted slots: a re-run builds the
  * identical logical plan and the CacheManager matches entries by plan,
  * so persist-then-unpersist would find the old entry ('Asked to cache
  * already cached data') and the unpersist of the old handle would drop
  * the NEW entry with it. [[hold]] takes its frames by name and
  * evaluates them only after the free, so a `.persist` inside the
  * argument always registers a fresh entry.
  *
  * Pinned blocks squeeze the executor storage pool and with it the
  * execution-memory ceiling shuffles spill against. Measured: at 10⁷
  * docs, a dedup_survivor run immediately after a dedup_clusters run in
  * the same session was ~2× its clean-session cost until the prior
  * rung's blocks were released.
  *
  * Concurrent callers each open their own [[scoped]] block: one
  * thread's re-run then never frees the checkpoints another thread's
  * unevaluated plan still reads. Threads started inside a scope inherit
  * it, so [[graft.ops.Par.concurrently]]'s per-call pool threads hold
  * into their caller's scope. Two scopes that persist the same plan
  * share one CacheManager entry; the first to exit drops it and the
  * other recomputes from lineage — slower, never wrong. Local
  * checkpoints are per-RDD and never shared.
  *
  * Free only once no live plan reads the frames: local checkpoints
  * cannot be recomputed, so a released plan fails with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND rather than silently recomputing.
  * A scope's body must therefore materialize (collect, write, count)
  * the results it built before the scope exits.
  */
object Release {

  private final class Scope {
    private val held =
      scala.collection.mutable.HashMap.empty[String, Seq[DataFrame]]

    def hold(slot: String, frames: => Seq[DataFrame]): Seq[DataFrame] = {
      synchronized(held.remove(slot)).foreach(_.foreach(free))
      val now = frames
      // two same-scope threads racing on one slot both keep their
      // frames until the slot's next hold or the scope's exit
      synchronized(held.updateWith(slot)(prev =>
        Some(prev.getOrElse(Nil) ++ now)))
      now
    }

    def freeAll(): Unit = {
      val all = synchronized {
        val v = held.values.toList
        held.clear()
        v
      }
      all.foreach(_.foreach(free))
    }
  }

  /** Holds outside any [[scoped]] block land here. */
  private val default = new Scope

  private val current = new InheritableThreadLocal[Scope]

  private def scope: Scope = Option(current.get).getOrElse(default)

  /** Free what `slot` holds in the current scope, then evaluate `frames`
    * and hold them in its place. Returns the new frames. */
  private[graft] def holdAll(slot: String)(
      frames: => Seq[DataFrame]): Seq[DataFrame] =
    scope.hold(slot, frames)

  /** Single-frame form of [[holdAll]]. */
  private[graft] def hold(slot: String)(frame: => DataFrame): DataFrame =
    holdAll(slot)(Seq(frame)).head

  /** Run `body` in a fresh scope (nested inside the current one, if
    * any), then free every frame held in it. `body` must materialize
    * its results before returning. */
  def scoped[A](body: => A): A = {
    val outer = current.get
    val s = new Scope
    current.set(s)
    try body
    finally {
      current.set(outer)
      s.freeAll()
    }
  }

  /** Free every cached / locally-checkpointed intermediate the current
    * scope still holds. Driver-side, asynchronous (non-blocking
    * unpersist), idempotent. */
  def transients(): Unit = scope.freeAll()

  /** Drop `df`'s CacheManager entry, if any, and the storage blocks of
    * every local checkpoint its plan reads. `Dataset.unpersist` alone
    * only clears entries cached via `.persist`: a local checkpoint's
    * blocks sit behind `LogicalRDD` leaves and must be unpersisted at
    * the RDD level, else every iteration of a loop leaks a generation
    * of blocks into storage memory until the ContextCleaner happens to
    * collect them. The plan is WALKED, not root-matched: held frames
    * are often derived plans (a Project or Aggregate over the
    * checkpoint leaf). Each step is a no-op where it does not apply. */
  private[graft] def free(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }
}
