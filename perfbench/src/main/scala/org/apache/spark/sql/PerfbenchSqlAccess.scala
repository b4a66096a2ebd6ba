package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an SQL-execution end event carries: the object the
  * query-execution listener is handed for the same action, which is how
  * the tracer joins the two (execution ids and `QueryExecution.id` are
  * numbered independently). */
object PerfbenchSqlAccess {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
