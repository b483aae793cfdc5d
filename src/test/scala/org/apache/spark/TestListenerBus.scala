package org.apache.spark

/** Test access to the listener bus: a listener's count of jobs is exact
  * only once every event posted so far has been delivered. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
