package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits for the listener bus to empty, so counters read at the end of a
  * traced run include every task that has finished. The bus is
  * package-private to Spark, hence this package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
