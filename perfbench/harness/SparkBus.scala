package org.apache.spark

/** The listener bus is private to Spark; the traced run must wait for it
  * to deliver every event before it reads its counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
