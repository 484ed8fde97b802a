package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark needs it drained
  * before reading its listener's counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
