package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * per-layer counters read after an operation include all of its events.
  * Lives in this package because the listener bus is Spark-private. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
