package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so the recorder's counters are complete before they are written. The
  * listener bus is package-private to Spark, hence this file's package. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
