package org.apache.spark

/** The listener bus is package-private; a test that counts jobs through a
  * listener waits for the bus to deliver every queued event first.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
