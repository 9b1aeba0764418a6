package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge for graft's native Catalyst expressions.
  *
  * Spark 4's `Column` wraps a `ColumnNode`, and the converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`) are `private[sql]` —
  * this sub-package of `org.apache.spark.sql` is the sanctioned-in-
  * practice way for a library to lift a custom `Expression` into the
  * public Column API without a session extension round-trip.
  */
package object graftglue {
  def columnOf(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Lower a `udf(...)`-built UserDefinedFunction onto expression
    * children as a real `ScalaUDF` — what the FunctionRegistry
    * builders need. (`expressionOf` on a udf-applied Column yields a
    * lazy `ColumnNodeExpression` that never resolves a dataType when
    * the registry invokes the builder on unresolved children.) */
  def scalaUdfOf(u: expressions.UserDefinedFunction,
                 children: Seq[Expression]): Expression =
    classic.UserDefinedFunctionUtils.toScalaUDF(
      u.asInstanceOf[expressions.SparkUserDefinedFunction], children)

  /** Register a function builder on an ALREADY-RUNNING session (the
    * `SparkSessionExtensions` path only applies at session build time —
    * `getOrCreate` on an active session ignores it). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Normalize -0.0/NaN in a float/double expression for byte-wise key
    * comparison (`NormalizeFloatingNumbers.normalize` is
    * `private[sql]`) — what Spark's own aggregates apply to grouping
    * keys before hashing. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Lift a LogicalPlan into the public DataFrame API
    * (`Dataset.ofRows` is `private[sql]`) — needed to hand a custom
    * logical operator back to the user. */
  def dataFrameOf(spark: SparkSession,
                  plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every queued listener event has been delivered
    * (`SparkContext.listenerBus` is `private[spark]`) — the shuffle
    * audit reads listener-accumulated stage metrics right after a
    * query completes, and the bus posts asynchronously. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
