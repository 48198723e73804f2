package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the `private[spark]` listener bus: listener events arrive
  * asynchronously, so the tracer drains the bus before it reads what a
  * pass or batch recorded. */
object Bus {
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
