package org.apache.spark

/** The benchmark's one reach into Spark internals: the listener bus is
  * asynchronous, and per-gate counts need every event posted so far to
  * have been delivered before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
