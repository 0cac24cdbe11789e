package org.apache.spark

/** Test access to the package-private listener bus: block until every
  * posted event has reached every listener, so a listener's counters
  * are exact when read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
