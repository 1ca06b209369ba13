package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark listener that records jobs, stages and tasks as raw records.
  * Jobs carry the job group the client thread set for the execution, which
  * links them to their query execution span.
  */
final class SchedulerTrace(out: Records) extends SparkListener {
  @volatile var lastEventMs: Double = Clock.nowMs()
  private def touch(): Unit = lastEventMs = Clock.nowMs()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    out.add("kind" -> "job", "job" -> e.jobId, "t0" -> e.time, "group" -> group,
      "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    out.add("kind" -> "job_end", "job" -> e.jobId, "t1" -> e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val i = e.stageInfo
    out.add("kind" -> "stage", "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
      "t0" -> i.submissionTime.getOrElse(-1L), "t1" -> i.completionTime.getOrElse(-1L),
      "tasks" -> i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    val t = e.taskInfo
    val m = e.taskMetrics
    if (m == null) {
      out.add("kind" -> "task", "stage" -> e.stageId, "t0" -> t.launchTime, "t1" -> t.finishTime)
    } else {
      val sr = m.shuffleReadMetrics
      out.add("kind" -> "task", "stage" -> e.stageId, "t0" -> t.launchTime,
        "t1" -> t.finishTime, "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime, "deser_ms" -> m.executorDeserializeTime,
        "ser_ms" -> m.resultSerializationTime,
        "get_ms" -> (if (t.gettingResult) t.finishTime - t.gettingResultTime else 0L),
        "sw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "sr_bytes" -> sr.totalBytesRead, "sr_records" -> sr.recordsRead,
        "fetch_ms" -> sr.fetchWaitTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "in_bytes" -> m.inputMetrics.bytesRead, "in_rows" -> m.inputMetrics.recordsRead,
        "out_bytes" -> m.outputMetrics.bytesWritten)
    }
  }

  /** Listener delivery is asynchronous; wait until the bus has been quiet
    * for `quietMs` (bounded) before the records are written.
    */
  def awaitQuiet(quietMs: Double = 300, maxMs: Double = 10000): Unit = {
    val start = Clock.nowMs()
    while (Clock.nowMs() - lastEventMs < quietMs && Clock.nowMs() - start < maxMs)
      Thread.sleep(50)
  }
}

/** Planning phases and plan shape of actions that run through the Dataset
  * action path (for example the eager checkpoints of the graph rows).
  */
final class PlanTrace(out: Records) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    out.add(Plans.record(qe, "action").toSeq: _*)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Plans {
  private val objectNodes = Set("DeserializeToObjectExec", "SerializeFromObjectExec",
    "MapPartitionsExec", "MapElementsExec", "AppendColumnsExec",
    "AppendColumnsWithObjectExec", "MapGroupsExec", "CoGroupExec",
    "FlatMapGroupsWithStateExec")

  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Phase durations (ms) from the query's planning tracker, and counts of
    * graft exec nodes and typed object (de)serialization nodes.
    */
  def record(qe: QueryExecution, kind: String): Map[String, Any] = {
    val phases = qe.tracker.phases
    def ms(name: String): Long = phases.get(name).map(_.durationMs).getOrElse(0L)
    val start = if (phases.isEmpty) -1L else phases.values.map(_.startTimeMs).min
    val all = try nodes(qe.executedPlan) catch { case _: Throwable => Nil }
    Map("kind" -> kind, "t0" -> start, "analysis_ms" -> ms(QueryPlanningTracker.ANALYSIS),
      "optimizer_ms" -> ms(QueryPlanningTracker.OPTIMIZATION),
      "planning_ms" -> ms(QueryPlanningTracker.PLANNING),
      "graft_nodes" -> all.count(_.getClass.getName.startsWith("graft.")),
      "object_nodes" -> all.count(n => objectNodes(n.getClass.getSimpleName)))
  }
}
