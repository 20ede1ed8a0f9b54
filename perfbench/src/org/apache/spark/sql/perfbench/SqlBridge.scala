package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the `private[sql]` query execution an SQL-execution-end event
  * carries (null for events that have none), so a listener can pair an
  * action's execution id with its planning phases and plan metrics.
  */
object SqlBridge {
  def qe(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
