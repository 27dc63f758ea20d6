package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The finished query an execution-end event carries is private to Spark
  * SQL; the benchmark reads its planning phases from it. */
object GraftBenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
