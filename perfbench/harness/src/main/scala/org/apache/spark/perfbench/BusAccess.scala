package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's listener bus, so that every event of a finished
  * operation has reached the benchmark's listeners before they are read.
  * The bus is package-private to Spark, hence this package. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
