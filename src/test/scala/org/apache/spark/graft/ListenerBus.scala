package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to Spark's `private[spark]` listener bus. Events reach
  * listeners asynchronously; [[drain]] waits until every posted event has
  * been delivered, so a listener's counts cover everything that ran before.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
