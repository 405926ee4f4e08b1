package org.apache.spark

/** Drains Spark's listener bus, so a span reads complete counters. The
  * bus is package-private to Spark, hence this one-method bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
