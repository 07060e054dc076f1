package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * counters read after an action include all of its task metrics.
  * Lives in this package because the bus is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
