package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/**
 * Two Spark internals the benchmark reads, both package-private:
 * draining the listener bus before an operation's events are read, and
 * the query an execution-end event carries. A QueryExecutionListener
 * sees the same query but not the execution id its jobs are tagged
 * with, so the plan is taken from the event instead.
 */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
