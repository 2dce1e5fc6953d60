package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The engine's one bridge into `private[sql]` Spark API, the standard
  * pattern OSS Spark extensions (GraphFrames, Sedona) use: `ofRows`
  * hands a hand-built `LogicalPlan` (the [[graft.plans.AsOfJoinNode]]
  * family) back to the Dataset API, and `column`/`expression` wrap a
  * Catalyst `Expression` as a typed `Column` and back, so graft's native
  * expressions ([[graft.functions.GraftFunctions]]) need no function
  * registry. Nothing else belongs in this file: every other entry point
  * the engine uses is public API.
  */
object GraftPlanBuilder {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a planner strategy on an existing session (idempotent) —
    * `experimental.extraStrategies` is the public injection point for
    * sessions not built through `SparkSessionExtensions`. */
  def addStrategy(spark: SparkSession, s: execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }
}
