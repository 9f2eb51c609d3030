package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal `private[sql]`/`private[spark]` bridge: build a DataFrame
  * from a custom LogicalPlan node (`Dataset.ofRows` is package-private to
  * `org.apache.spark.sql`) and drain the listener bus. This is the
  * standard extension-library pattern — the only member of this package
  * the engine defines, and it forwards without touching any internal
  * state.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Catalyst expression behind a Column (Spark 4 wraps columns in
    * ColumnNodes; the converter lives behind `private[sql]`).
    */
  def expression(col: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(col)

  /** Block until the async listener bus has delivered every event posted
    * so far; throws `TimeoutException` if it does not drain in 10 s
    * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`).
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
