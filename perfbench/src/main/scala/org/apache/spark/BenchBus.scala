package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark drains it at pass
  * boundaries so every job, task and SQL-execution event of a pass is
  * counted in that pass. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
