package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * traced operation's job and task counts are complete when it ends. The
  * bus is package-private to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
