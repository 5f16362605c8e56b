package org.apache.spark

/** The listener bus is package-private; the benchmark needs to wait for it
  * so task counters are complete before a unit of work is closed.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
