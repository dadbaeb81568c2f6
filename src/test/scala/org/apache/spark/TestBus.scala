package org.apache.spark

/** The listener bus is private to Spark; counter tests wait for it to
  * drain instead of sleeping, so their counts do not depend on host load. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
