package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every
  * event posted so far, so a pass's ledgers are complete before they
  * are read. `waitUntilEmpty` is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
