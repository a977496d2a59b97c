package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Test view of the `private[spark]` listener bus. */
object TestBus {
  /** How many listeners are attached to the bus. */
  def listeners(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
