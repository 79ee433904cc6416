package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark reads complete job, task and planning counts at the end of a
  * pass. The listener bus is private to Spark, hence this package. */
object BenchDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
