package org.apache.spark

/** The listener bus is private to Spark; the harness drains it so that every
  * event of a finished pass is counted before the pass's numbers are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
