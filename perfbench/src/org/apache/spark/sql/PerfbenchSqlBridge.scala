package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to the query execution an execution-end event carries,
  * which is package-private. */
object PerfbenchSqlBridge {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
