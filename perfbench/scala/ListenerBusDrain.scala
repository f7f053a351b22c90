package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * counts read after a measured window include all of its jobs and tasks.
  * The listener bus is Spark-internal, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
