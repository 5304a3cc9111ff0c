package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's counters are complete when read. The listener bus's
  * drain call is package-private to Spark.
  */
object ConnbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
