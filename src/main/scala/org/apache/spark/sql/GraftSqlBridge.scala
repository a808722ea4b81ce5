package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Two `private[sql]` constructors the public Spark API lacks, exposed to
  * the engine's optimizer rules (the standard extension-library bridge —
  * Delta, Sedona etc. ship the same shape).
  *
  * Why they're needed: an optimizer rule that wants to REUSE the engine's
  * DataFrame-level plan builders (graft.plans.PrefixSum) on a subtree it
  * matched must wrap that subtree's `LogicalPlan` back into a `DataFrame`
  * ([[ofRows]]) and wrap the matched catalyst `Expression`s into `Column`s
  * ([[column]]). Rebuilding the same multi-join dataflow out of raw
  * catalyst nodes instead would duplicate ~100 lines of exprId plumbing
  * per rule and fork it from the tested DataFrame implementation.
  */
object GraftSqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
