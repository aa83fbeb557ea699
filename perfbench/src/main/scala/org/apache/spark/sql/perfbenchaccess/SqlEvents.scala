package org.apache.spark.sql.perfbenchaccess

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an SQL-execution-end event carries is private
  * to Spark SQL; the tracer needs it to tie a QueryExecutionListener
  * callback (which sees the query execution) to the execution id its
  * jobs carry. */
object SqlEvents {
  def executionEnd(e: SparkListenerEvent): Option[(Long, QueryExecution)] = e match {
    case end: SparkListenerSQLExecutionEnd if end.qe != null => Some(end.executionId -> end.qe)
    case _ => None
  }
}
