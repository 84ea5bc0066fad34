package org.apache.spark

/** The listener bus is package-private; the benchmark needs to wait for it
  * to deliver queued events before it reads its listeners' totals.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
