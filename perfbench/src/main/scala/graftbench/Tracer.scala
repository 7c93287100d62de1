package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, ExpandExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters of one job group, summed over its tasks and stages. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, result, output, input = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; fetchWaitMs += o.fetchWaitMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    result += o.result; output += o.output; input += o.input
  }
}

/** Physical-operator counts, summed over the executed plans of every SQL
  * execution (Exchanges under AQE are reached through their query stages;
  * a reused exchange is not counted again). */
final class PlanCounts {
  var executions, exchanges, broadcasts, smj, bhj, windows, expands = 0L

  def add(plan: SparkPlan): Unit = {
    executions += 1
    walk(plan)
  }

  private def walk(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case c: CommandResultExec => walk(c.commandPhysicalPlan)
    case _: ReusedExchangeExec => ()
    case other =>
      other match {
        case _: ShuffleExchangeExec => exchanges += 1
        case _: BroadcastExchangeExec => broadcasts += 1
        case _: SortMergeJoinExec => smj += 1
        case _: BroadcastHashJoinExec => bhj += 1
        case _: WindowExec => windows += 1
        case _: ExpandExec => expands += 1
        case _ => ()
      }
      other.children.foreach(walk)
      other.subqueries.foreach(walk)
  }
}

final case class JobSpan(id: Int, group: String, startMs: Long, endMs: Long)

/** Records Spark jobs, stages, tasks and SQL executions while attached.
  * Jobs, stages and tasks are attributed by the job group the harness sets
  * before each (pass, query, phase); plan counts go to the bucket named by
  * `bucket`, which the harness moves only after draining the listener bus. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobStarts = mutable.Map.empty[Int, (String, Long)]
  private val stageGroup = mutable.Map.empty[Int, String]
  val counters = mutable.Map.empty[String, Counters]
  val jobs = mutable.ArrayBuffer.empty[JobSpan]
  val plans = mutable.Map.empty[String, PlanCounts]
  @volatile var bucket = "none"

  private def of(group: String): Counters = counters.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    jobStarts(e.jobId) = (group, e.time)
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = group)
    of(group).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (group, start) =>
      jobs += JobSpan(e.jobId, group, start, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageGroup.getOrElse(e.stageInfo.stageId, "none")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, "none"))
    c.tasks += 1
    if (e.reason != org.apache.spark.Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.result += m.resultSize
      c.output += m.outputMetrics.bytesWritten
      c.input += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { plans.getOrElseUpdate(bucket, new PlanCounts).add(qe.executedPlan) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { plans.getOrElseUpdate(bucket, new PlanCounts).add(qe.executedPlan) }
}
