package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listener has seen all jobs and tasks of the ops that ran.
  * The bus is private to Spark, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
