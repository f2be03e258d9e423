package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * (the listener events' clock); `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Double, end: Double) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "layer" -> layer, "name" -> name, "start" -> start, "end" -> end)
}

/** Listens to one operation at a time from outside the program: Spark
  * jobs, stages and task metrics through a `SparkListener`, and plan
  * phases plus final physical plans through a `QueryExecutionListener`.
  * Registered only around traced operations, so untraced operations run
  * with no benchmark listener attached. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val jobStarts = mutable.Map[Int, (Long, Seq[Int])]()
  private val jobs = mutable.ArrayBuffer[(Int, Long, Long, Seq[Int])]()
  private val stages = mutable.ArrayBuffer[(Int, Long, Long)]()
  private val tasks = mutable.ArrayBuffer[(Long, Map[String, Double])]()
  private val plans = mutable.ArrayBuffer[QueryExecution]()
  private val analyzed = mutable.ArrayBuffer[QueryExecution]()

  private def sc = spark.sparkContext

  def attach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      jobStarts.clear(); jobs.clear(); stages.clear(); tasks.clear()
      plans.clear(); analyzed.clear()
    }
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Stop listening once every event of the operation has been seen. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = (e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, st) =>
      jobs += ((e.jobId, t0, e.time, st))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages += ((i.stageId, s, c))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val values = if (m == null) Map("tasks" -> 1.0) else Map(
      "tasks" -> 1.0,
      "task_run_ms" -> m.executorRunTime.toDouble,
      "task_cpu_ms" -> m.executorCpuTime / 1e6,
      "scheduler_delay_ms" -> math.max(0L, e.taskInfo.duration -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime).toDouble,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      "gc_ms" -> m.jvmGCTime.toDouble)
    tasks += ((e.taskInfo.finishTime, values))
  }
  /** A Dataset's own plan, analyzed when the query function built it but
    * executed through the plan of its write: only its phases count. */
  def addAnalyzed(qe: QueryExecution): Unit = synchronized { analyzed += qe }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized { plans += qe }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { plans += qe }

  /** Spans and per-layer counters of one operation that ran in
    * [start, end] while attached. `root` covers the whole operation;
    * `prepare` is the driver-side preparation before materialization
    * began (a query's construction, a trigger's offset and planning
    * phases), the rest is `execute`. Jobs and plan phases hang under
    * whichever of the two they started in; stages hang under their job.
    * `extra` spans (a trigger's phases) go under prepare or execute, and
    * take the jobs and plan phases that start inside them. Only events
    * that started inside the window count, so one attachment can serve
    * many operations (a streaming query's triggers). */
  def collect(rootName: String, start: Double, mid: Double, end: Double,
      extra: Seq[Span] = Nil): (Seq[Span], Map[String, Double]) =
    synchronized {
      def in(t: Double) = t >= start - 1 && t <= end + 1
      val jobs = this.jobs.toSeq.filter(j => in(j._2.toDouble))
      def inWindow(qs: Seq[QueryExecution]) = qs.filter(_.tracker.phases
        .values.exists(p => in(p.startTimeMs.toDouble)))
      val executed = inWindow(this.plans.toSeq)
      val plans = executed ++ inWindow(analyzed.toSeq)
      val tasks = this.tasks.toSeq.filter(t => in(t._1.toDouble)).map(_._2)
      var next = 0
      def id(): Int = { next += 1; next }
      val root = Span(id(), -1, "query", rootName, start, end)
      val prep = Span(id(), root.id, "construct", rootName, start, mid)
      val exec = Span(id(), root.id, "execute", rootName, mid, end)
      def outer(t: Double) = if (t < mid) prep.id else exec.id
      val extras = extra.map(x => x.copy(id = id(), parent = outer(x.start)))
      def under(t: Double) = extras.find(x => x.start <= t && t < x.end)
        .map(_.id).getOrElse(outer(t))
      val phaseSpans = plans.flatMap { qe =>
        qe.tracker.phases.toSeq.map { case (ph, s) =>
          Span(id(), under(s.startTimeMs.toDouble), "plan", ph,
            s.startTimeMs.toDouble, s.endTimeMs.toDouble)
        }
      }
      val jobSpans = jobs.sortBy(_._2).map { case (j, t0, t1, _) =>
        j -> Span(id(), under(t0.toDouble), "job", s"job$j", t0.toDouble,
          t1.toDouble)
      }
      val stageParent = jobs.flatMap { case (j, _, _, st) =>
        st.map(_ -> j) }.reverse.toMap
      val jobIds = jobSpans.toMap
      val stageSpans = stages.toSeq.flatMap { case (s, t0, t1) =>
        stageParent.get(s).flatMap(jobIds.get).map(p =>
          Span(id(), p.id, "stage", s"stage$s", t0.toDouble, t1.toDouble))
      }
      val joins = executed.map { qe =>
        val p = qe.executedPlan
        (collectWithSubqueries(p) { case j: SortMergeJoinExec => j }.size,
          collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }.size)
      }
      def phase(n: String) = plans.flatMap(_.tracker.phases.get(n))
        .map(s => (s.endTimeMs - s.startTimeMs).toDouble).sum
      val counters = Map(
        "plan.analysis_ms" -> phase("analysis"),
        "plan.optimization_ms" -> phase("optimization"),
        "plan.physical_ms" -> phase("planning"),
        "plan.construct_ms" -> (mid - start),
        "plan.eager_jobs" -> jobs.count(_._2 < mid).toDouble,
        "plan.smj_count" -> joins.map(_._1).sum.toDouble,
        "plan.bhj_count" -> joins.map(_._2).sum.toDouble,
        "exec.jobs" -> jobs.size.toDouble,
        "exec.stages" -> stageSpans.size.toDouble,
        "exec.job_ms" -> jobs.map { case (_, a, b, _) => (b - a).toDouble }.sum,
        "exec.storage_bytes_pinned" -> sc.getRDDStorageInfo
          .map(r => (r.memSize + r.diskSize).toDouble).sum
      ) ++ Seq("tasks", "task_run_ms", "task_cpu_ms", "scheduler_delay_ms",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_ms")
        .map(k => s"exec.$k" -> tasks.map(_.getOrElse(k, 0.0)).sum)
      (Seq(root, prep, exec) ++ extras ++ phaseSpans ++ jobSpans.map(_._2) ++
        stageSpans, counters)
    }
}
