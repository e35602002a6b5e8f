package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution an execution-end event carries is package-private
  * to Spark SQL; the recorder reads it to join a QueryExecutionListener
  * callback (keyed by QueryExecution.id) to its SQL execution id. */
object ExecShim {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
