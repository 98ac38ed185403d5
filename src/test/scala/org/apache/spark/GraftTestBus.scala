package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * spec's listener totals are complete when read. The bus is
  * package-private to Spark, hence this object's package. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
