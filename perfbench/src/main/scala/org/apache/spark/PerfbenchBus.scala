package org.apache.spark

/** Waits until every queued listener event has been delivered. The bus is
  * asynchronous, so per-query aggregates are read only after this returns.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
