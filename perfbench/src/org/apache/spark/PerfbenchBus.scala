package org.apache.spark

/** Lets the traced run wait until every queued listener event has been
  * delivered, so per-layer counts are complete when they are read. The
  * listener bus is package-private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
