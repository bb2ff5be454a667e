package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners have folded all job, stage, task and streaming
  * progress events before their totals are read. The bus is private to
  * Spark, hence this accessor in Spark's package.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
