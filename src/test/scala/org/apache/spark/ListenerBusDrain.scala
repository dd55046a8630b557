package org.apache.spark

/** The listener bus is private to Spark; specs drain it so the status
  * tracker has seen every job of a finished action before they count. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
