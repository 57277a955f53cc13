package org.apache.spark.sql
package graftbridge

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression / LogicalPlan <-> DataFrame bridge. Spark 4 made
  * these conversions `private[sql]` (columnNodeSupport.scala,
  * classic.Dataset.ofRows); libraries adding native Catalyst expressions
  * and plans use a package-located accessor like this one. */
object SqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Build a DataFrame from a (resolved) logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Register a TABLE-VALUED function in the session's
    * TableFunctionRegistry (the registry `SELECT * FROM fn(...)` resolves
    * against). Spark exposes TVF registration to libraries only via
    * SparkSessionExtensions at session BUILD time; this is the runtime
    * equivalent for sessions built without extensions — same registry,
    * same builder signature. Idempotent: re-registering a name replaces
    * its builder. */
  def registerTableFunction(spark: SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => LogicalPlan): Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** Ensure the driver-side StateStoreCoordinator RPC endpoint exists.
    * Streaming queries create it lazily via StreamingQueryManager, but a
    * pure-BATCH `transformWithState` also loads RocksDB state stores
    * whose provider phones the coordinator — in a session that never ran
    * a streaming query the endpoint is missing and the load fails with
    * RpcEndpointNotFoundException. Touching the manager's lazy val is
    * idempotent and creates it on first use. */
  def ensureStateStoreCoordinator(spark: SparkSession): Unit =
    spark.streams.asInstanceOf[classic.StreamingQueryManager].stateStoreCoordinator

  /** Record a write task's output in its task metrics, as Spark's file
    * writers do (the `OutputMetrics` setters are `private[spark]`). */
  def reportOutput(bytes: Long, records: Long): Unit = {
    val m = org.apache.spark.TaskContext.get().taskMetrics().outputMetrics
    m.setBytesWritten(bytes)
    m.setRecordsWritten(records)
  }
}
