package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** What [[graft.obs.Profile]] needs of the `private[spark]` listener bus
  * and of the `private[sql]` action fields of execution-end events.
  */
object ListenerBridge {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The planning tracker of a finished, named Dataset action (`count`,
    * `save`, … in any session); None for internal executions.
    */
  def action(e: SparkListenerSQLExecutionEnd): Option[QueryPlanningTracker] =
    for (_ <- e.executionName; qe <- Option(e.qe)) yield qe.tracker
}
