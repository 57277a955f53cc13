package org.apache.spark.sql

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals the benchmark's tracer needs, both visible only
  * inside Spark's packages: the listener bus's own bounded wait, and the
  * query execution an execution-end event belongs to (it links the
  * planning phases a QueryExecutionListener sees to the execution id
  * that jobs and execution-start events carry). */
object GraftBenchAccess {
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException => false }

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
