package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced record holds the last op's job and phase spans. Lives in
  * `org.apache.spark` because the bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package sql {
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The query execution an end event carries (a package-private field):
    * its tracker holds the Catalyst phase times of that execution. */
  object PerfbenchSql {
    def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
  }
}
