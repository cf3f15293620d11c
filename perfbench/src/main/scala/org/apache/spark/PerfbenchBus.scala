package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener's counters are complete when the benchmark reads them.
  * Lives in this package because the listener bus is Spark-private.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
