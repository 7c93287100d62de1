package org.apache.spark

/** The listener bus is `private[spark]`; tests that count Spark jobs drain
  * it so every job event of the measured call has reached their listener. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
