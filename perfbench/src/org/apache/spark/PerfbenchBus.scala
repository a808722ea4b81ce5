package org.apache.spark

/** Drains Spark's listener bus, so every event of the traced passes has
  * been delivered before the tracer's counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
