package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus: events are delivered on the bus
  * thread, so a listener's totals are complete only after a drain. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
