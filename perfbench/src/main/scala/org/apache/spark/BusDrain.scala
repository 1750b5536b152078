package org.apache.spark

/** Blocks until the listener bus has delivered every posted event (the bus
  * method is package-private to Spark). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
