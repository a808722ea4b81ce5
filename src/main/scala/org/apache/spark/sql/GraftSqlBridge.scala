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

  /** The optimizer's runtime-bloom-filter pair, exposed as Columns: the
    * injection rule's own `bloom_filter_agg` / `might_contain`
    * expressions are NOT in the public FunctionRegistry, but they are
    * exactly the right primitive for a MANUAL size-gated semi-join
    * pre-filter (guide §3.2) — the filter is built DISTRIBUTED (one
    * aggregation, binary result row) and probed codegen'd map-side, with
    * no driver-side collect and no UDF. Feed both with `xxhash64(key)`
    * (LongType), the same hashing the automatic injection uses. */
  def bloomFilterAgg(value: Column, numItems: Long, numBits: Long): Column =
    column(new catalyst.expressions.aggregate.BloomFilterAggregate(
      classic.ExpressionUtils.expression(value),
      catalyst.expressions.Literal(numItems),
      catalyst.expressions.Literal(numBits)).toAggregateExpression())

  /** `might_contain(<scalar subquery over bloomFrame>, value)` —
    * BloomFilterMightContain type-checks its filter side as a constant
    * or scalar subquery (never a joined column), so the 1-row
    * `bloomFrame` (a [[bloomFilterAgg]] aggregate) is attached exactly
    * the way the automatic injection attaches it: as a ScalarSubquery,
    * executed once and shipped to every task with the subquery result. */
  def mightContain(bloomFrame: DataFrame, value: Column): Column =
    column(new catalyst.expressions.BloomFilterMightContain(
      catalyst.expressions.ScalarSubquery(
        bloomFrame.queryExecution.analyzed),
      classic.ExpressionUtils.expression(value)))
}
