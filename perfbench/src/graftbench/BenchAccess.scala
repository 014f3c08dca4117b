package org.apache.spark {

  /** Reaches the listener bus's drain, which Spark keeps package-private:
    * the tracer must see every event before it summarizes a run.
    */
  object BenchAccess {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {

  /** The finished query an SQL-execution-end event carries (a field
    * Spark keeps SQL-private), for its planning phases and scan metrics.
    */
  object BenchSqlAccess {
    def queryExecution(e: execution.ui.SparkListenerSQLExecutionEnd): execution.QueryExecution = e.qe
  }
}
