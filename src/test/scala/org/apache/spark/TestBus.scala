package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * spec's listener counts are complete before it reads them. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
