package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe running prefix sums.
  *
  * The natural Spark form of "running total before this row" is
  * `sum(v).over(Window.partitionBy(g).orderBy(o)) - v`, but that plan
  * serializes EVERY group through one task (and with no partition at all,
  * the whole corpus through one task — Spark itself warns "No Partition
  * Defined ... Moving all data to a single partition"). At 100 TB a 20 TB
  * source, or a global quantile sort, is a guaranteed straggler/OOM.
  *
  * [[shardedPrior]] computes the SAME exact prefix totals in three
  * bounded stages instead:
  *
  *   1. each row gets an order-prefix `shard` — any non-decreasing
  *      function of the ordering key with a bounded number of distinct
  *      values (a config constant, e.g. the first two md5 hex chars for a
  *      hash-priority order, or a min/max range bucket for an id order);
  *   2. per-(group, shard) totals aggregate map-side into a HISTOGRAM
  *      frame of at most groups × shards rows, and each shard's offset
  *      (the sum of all earlier shards in its group) comes from a bounded
  *      self-join over that histogram — never a window, so no stage of
  *      the offset computation has an unbounded partition;
  *   3. the offsets broadcast back and a window partitioned by
  *      (group, shard) supplies the within-shard running sum — per-task
  *      sort input is now 1/shards of a group, and widening the shard
  *      count is a config change, not a rewrite.
  *
  * Because the shard is an order PREFIX (all rows of shard k sort
  * strictly before all rows of shard k+1, and ties of the ordering key
  * never straddle shards), offset + within-shard prefix ≡ the global
  * prefix, row for row — the shard arms are held to the window arms'
  * oracles verbatim in the correctness gate.
  */
object PrefixSum {

  /** Adds `prior` = exact sum of `value` over rows strictly BEFORE the
    * current row in `orderCols` order within each `partCols` group.
    *
    * Requirements: `shard` must be non-decreasing along `orderCols`
    * within every group and constant on `orderCols` ties that straddle
    * rows (in practice: derive it from a prefix of the FIRST ordering
    * column), with a bounded distinct count. `value` must be an EXACT
    * type, never float/double, whose addition is not associative: a
    * long (the engine's cross-engine discipline) or a decimal of scale
    * 0..6. Why that scale bound: the decomposition's binary adds
    * (offset + shard-local running sum − value) promote precision, and
    * once a promoted precision crosses 38 Spark's adjustPrecisionScale
    * picks `max(38 - intDigits, min(s, 6))` — for s ≤ 6 that is always
    * s, so the scale is preserved and an add can only overflow (which
    * checked decimal arithmetic surfaces, as Spark's own window Sum
    * does), while for s ≥ 7 the last digit could round and the result
    * would no longer equal the single-window prior.
    * The offsets frame is (groups × shards)-sized and is broadcast, so
    * `partCols` must be bounded-cardinality (source, lang, ... — the
    * grouping this operator family uses).
    */
  def shardedPrior(df: DataFrame, partCols: Seq[String], shard: Column,
      orderCols: Seq[Column], value: Column,
      priorName: String = "prior"): DataFrame = {
    val n = priorName
    val grp = partCols.map(col)
    val t = df.withColumn("__ps_shard", shard)
    val hist = t.groupBy(grp :+ col("__ps_shard"): _*)
      .agg(sum(value).as(s"__ps_ssum_$n"))
    // offsets via a bounded histogram self-join (earlier shards of the
    // same group), NOT a window: with empty partCols a per-group window
    // here would be exactly the single-partition stage this helper exists
    // to remove. The join is ≤ shards² pairs per group.
    val earlier = hist.select(
      partCols.map(c => col(c).as(s"__pe_$c")) ++
        Seq(col("__ps_shard").as("__pe_shard"),
          col(s"__ps_ssum_$n").as(s"__pe_ssum_$n")): _*)
    // <=> on the group keys, both here and in the row join below: window
    // semantics treat a NULL group value as its own partition, so plain
    // equality would compute zero offsets for the null group and then
    // drop its rows entirely at the inner join (PrefixSumSpec's NULL
    // sources catch it)
    val cond = partCols
      .map(c => col(c) <=> col(s"__pe_$c"))
      .foldLeft(col("__pe_shard") < col("__ps_shard"))(_ && _)
    val off = hist.join(earlier, cond, "left")
      .groupBy(grp :+ col("__ps_shard"): _*)
      .agg(coalesce(sum(col(s"__pe_ssum_$n")), lit(0L)).as(s"__ps_off_$n"))
      .select(partCols.map(c => col(c).as(s"__po_$c")) ++
        Seq(col("__ps_shard").as("__po_shard"), col(s"__ps_off_$n")): _*)
    val w = Window
      .partitionBy(grp :+ col("__ps_shard"): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rowCond = (partCols
      .map(c => col(c) <=> col(s"__po_$c")) :+
      (col("__ps_shard") <=> col("__po_shard"))).reduce(_ && _)
    val joined = t.join(broadcast(off), rowCond)
    joined.select(joined.columns.filterNot(_ == n).map(col) :+
      (col(s"__ps_off_$n") + sum(value).over(w) - value).as(n): _*)
      .drop(Seq("__ps_shard", "__po_shard") ++
        partCols.map(c => s"__po_$c") :+ s"__ps_off_$n": _*)
  }

  /** The md5-priority token-budget prior over a (doc_id, source, …)
    * frame: `prior` = per-source running `value` total in
    * (md5(doc_id), doc_id) order, sharded on the first two md5 hex chars
    * (256 order-prefix shards — uniform by construction, so no shard of
    * a 20 TB source exceeds ~1/256 of it). Shared by q_sample_budget's
    * shard arm and the corpus pipeline's stage 5 (batch AND streaming),
    * so the budget semantics cannot drift between them.
    */
  def md5BudgetPrior(df: DataFrame, value: Column): DataFrame = {
    val h = md5(col("doc_id").cast("string"))
    shardedPrior(df, Seq("source"),
      conv(substring(h, 1, 2), 16, 10).cast("long"),
      Seq(h, col("doc_id")), value)
  }
}
