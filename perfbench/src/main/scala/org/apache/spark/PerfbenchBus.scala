package org.apache.spark

/** The listener bus is `private[spark]`; the traced run must see every
  * job, stage, task and streaming-progress event posted so far before it
  * reads its counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
