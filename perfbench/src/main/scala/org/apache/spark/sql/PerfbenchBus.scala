package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two package-private hooks the benchmark needs: block until the
  * listener bus delivered every posted event, so counters are complete
  * when read; and the query an SQL execution ran, so a write can be
  * timed by its execution's start and end events. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def query(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
