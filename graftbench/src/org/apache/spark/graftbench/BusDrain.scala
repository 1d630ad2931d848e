package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so
  * the traced run attributes each job, task and query to its operation
  * before moving on. The bus is private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
