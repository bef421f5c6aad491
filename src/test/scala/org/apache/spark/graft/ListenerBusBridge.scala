package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus, which SparkContext keeps
  * `private[spark]`: wait until every posted event has been delivered. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
