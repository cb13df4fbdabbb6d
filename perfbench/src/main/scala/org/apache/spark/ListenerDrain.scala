package org.apache.spark

/** Waits until every queued listener event is delivered, so per-query
  * listener totals are complete before the next query starts. Lives in
  * Spark's package because the listener bus is private to it. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
