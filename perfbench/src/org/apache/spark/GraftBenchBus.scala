package org.apache.spark

/** Waits until every queued listener event has been delivered. The traced
  * run reads its listener's counters only after this returns, so a span's
  * jobs and tasks are complete when it is summarised. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
