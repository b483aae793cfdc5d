package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so counters read at a span boundary include all its tasks. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
