package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event.
  * The bus is internal to Spark, so this one call lives in Spark's
  * package; the traced run uses it so a query's counters are complete
  * before they are read. */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
