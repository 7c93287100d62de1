package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The Spark jobs a call launches and the physical plans of the SQL
  * executions it runs (actions, writes and dataset checkpoints), in order.
  * A plan is the executed one, so an adaptive plan is its final form. */
object Traced {
  final case class Run[T](jobs: Int, plans: Seq[SparkPlan], value: T)

  def apply[T](spark: SparkSession)(body: => T): Run[T] = {
    val group = "graft-traced"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
          js.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.TracedBus.drain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      sc.setJobGroup(group, "traced")
      val out = try body finally sc.clearJobGroup()
      org.apache.spark.TracedBus.drain(sc)
      import scala.jdk.CollectionConverters._
      Run(jobs.get, plans.asScala.toSeq, out)
    } finally {
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
  }
}
