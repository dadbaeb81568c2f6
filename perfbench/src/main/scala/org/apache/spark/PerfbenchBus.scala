package org.apache.spark

/** The listener bus is private to Spark; the benchmark's collectors need
  * to wait for it to drain before reading what they collected. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
