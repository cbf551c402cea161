package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * trace's Spark counters are complete before they are read.
  */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
