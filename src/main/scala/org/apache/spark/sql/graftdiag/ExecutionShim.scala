package org.apache.spark.sql.graftdiag

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** `private[sql]` read of the query a finished SQL execution carries
  * on its end event. Spark fills it in for the executions of every
  * session, so one listener on the shared bus sees the planning of
  * `newSession()` clones too ([[graft.core.Trace]]). Only named
  * executions (Dataset actions and commands), the ones a session's
  * `QueryExecutionListener` is shown. */
object ExecutionShim {
  def namedQueryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    if (e.executionName.isDefined) Option(e.qe) else None
}
