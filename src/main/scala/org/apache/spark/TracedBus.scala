package org.apache.spark

/** The listener bus is `private[spark]`; `graft.Traced` drains it so every
  * job event of the measured call has reached its listener. */
object TracedBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
