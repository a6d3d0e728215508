package org.apache.spark

/** Blocks until every queued listener event has been delivered, so the
  * traced run's totals are complete before they are read (the listener
  * bus is asynchronous and its drain hook is Spark-internal). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
