package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the query execution a SQL-execution-end event carries. The field
  * is package-private to Spark SQL; it is what links a
  * QueryExecutionListener callback to the execution id that Spark stamps
  * on every job of that execution. */
object ExecutionEnd {
  def qe(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
