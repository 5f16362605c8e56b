package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark internals [[graft.tools.Probe]] reads: the listener bus is
  * package-private, and so are the action name and the `QueryExecution`
  * an execution-end event carries.
  */
object ProbeAccess {

  /** Blocks until every listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def executionName(e: SparkListenerSQLExecutionEnd): Option[String] = e.executionName

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
