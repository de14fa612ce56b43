package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: listener callbacks are
  * delivered asynchronously, so totals are read only after the bus has
  * delivered every event posted so far. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
