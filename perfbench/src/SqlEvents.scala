package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark internals the benchmark's listener needs, which are package-private
  * to `org.apache.spark`: the query execution and duration attached to the
  * SQL-execution-end event (keyed by execution id, which the jobs of that
  * execution carry too), and draining the asynchronous listener bus before
  * the run's metrics are read.
  */
object SqlEvents {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    if (e.executionFailure.isDefined) None else Option(e.qe)
  def durationNs(e: SparkListenerSQLExecutionEnd): Long = e.duration
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
