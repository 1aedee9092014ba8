package org.apache.spark

/** Waits until every queued listener event has been delivered, so span
  * totals read after a call include all of its tasks.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
