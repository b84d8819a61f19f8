package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so per-span counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
