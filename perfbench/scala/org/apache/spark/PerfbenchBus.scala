package org.apache.spark

/** Waits for Spark's listener bus to deliver every event posted so far
  * (the bus is private to Spark; this object lives in its package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
