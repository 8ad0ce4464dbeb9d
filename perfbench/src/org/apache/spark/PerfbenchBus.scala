package org.apache.spark

/** Package-private Spark state the tracer reads: the listener bus (to wait
  * until it has delivered every posted event) and the QueryExecution an
  * SQL-execution-end event carries. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: sql.execution.ui.SparkListenerSQLExecutionEnd)
      : Option[sql.execution.QueryExecution] = sql.PerfbenchSql.qe(e)
}

package sql {
  private[spark] object PerfbenchSql {
    def qe(e: execution.ui.SparkListenerSQLExecutionEnd): Option[execution.QueryExecution] =
      Option(e.qe)
  }
}
