package org.apache.spark

/** Waits until every queued listener event has been delivered, so totals
  * read right after an operation include all of that operation's jobs,
  * stages and tasks. The listener bus is Spark-internal; this is the only
  * reason the benchmark declares a class in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
