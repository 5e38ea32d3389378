package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener's counters are complete when a spec reads them. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
