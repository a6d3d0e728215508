package org.apache.spark

/** Blocks until every queued listener event has been delivered, so a
  * listener's counts are complete when a spec reads them (the bus is
  * asynchronous and its drain hook is Spark-internal). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
