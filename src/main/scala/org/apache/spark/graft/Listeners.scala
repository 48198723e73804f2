package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `private[spark]` accessors (same technique as sql.graft.Bridge). */
object Listeners {
  /** The listener bus is asynchronous, so task-metric adders read
    * immediately after an action under-report — profilers must drain
    * the bus first to get exact totals. */
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Drops RDD `id`'s blocks without blocking: `RDD.unpersist` minus
    * its WARN for a locally checkpointed RDD, whose truncated lineage
    * is the point of the sinks' batch pins (see `Pins.reap`). */
  def unpersistRDD(sc: SparkContext, id: Int): Unit = sc.unpersistRDD(id, blocking = false)
}
