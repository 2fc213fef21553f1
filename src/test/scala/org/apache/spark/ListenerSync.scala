package org.apache.spark

/** Test access to the private listener bus: block until every posted
  * event has reached the listeners, so job counts are exact. */
object ListenerSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
