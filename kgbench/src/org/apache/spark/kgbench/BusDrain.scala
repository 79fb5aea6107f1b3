package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered. The listener
  * bus is private to Spark, so this accessor lives inside its package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
