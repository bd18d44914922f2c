package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * traced rep's metrics are complete when it is read. The bus is
  * package-private to Spark, hence this one-method bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
