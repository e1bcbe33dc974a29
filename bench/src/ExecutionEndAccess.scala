package org.apache.spark.sql.execution.ui

import org.apache.spark.sql.execution.QueryExecution

/** The query execution a SQL execution's end event carries; the field is
  * `private[sql]` on the event. */
object ExecutionEndAccess {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
