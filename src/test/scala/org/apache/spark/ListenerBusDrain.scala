package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * spec's listener has seen all events of the work it just ran. Lives in
  * this package because the listener bus is Spark-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
