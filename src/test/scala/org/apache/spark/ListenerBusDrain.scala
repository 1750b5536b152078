package org.apache.spark

/** Blocks until the listener bus has delivered every posted event (the bus
  * is package-private to Spark), so a test listener has seen every job
  * started before the call. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
