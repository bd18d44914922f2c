package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * spec's listener has seen every job it started. The bus is
  * package-private to Spark, hence this one-method bridge. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
