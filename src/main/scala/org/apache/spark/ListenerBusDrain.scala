package org.apache.spark

/** Access to the package-private listener bus for [[graft.Trace]]:
  * block until every posted event has reached every listener, so a
  * listener's record is exact when read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
