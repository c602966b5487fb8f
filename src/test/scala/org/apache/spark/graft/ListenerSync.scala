package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus (`private[spark]`): counts taken by
  * a SparkListener are complete only once the bus has drained. */
object ListenerSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
