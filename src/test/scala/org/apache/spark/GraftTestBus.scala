package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * test's listener has seen every job a block submitted before its count is
  * read. The bus is private to Spark, hence this accessor in Spark's package.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
