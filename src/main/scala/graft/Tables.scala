package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided TPC-H-ish parquet tables (TESTDATA.md).
  *
  * The reference engine's only "table" is a directory of text lines
  * (reference mapreduce/manager/__main__.py:257-259); these typed parquet
  * tables are the declared relational extension surface. Reads stay fully
  * declarative so Catalyst pushes filters/column pruning into the scan.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The tables whose scans carry CPU-DENSE per-row kernels — tokenize +
    * window-md5 over documents, cosine/quantize over embeddings,
    * sessionization over events — each with the stable id column
    * [[scanFloor]] spreads on. lineitem/orders are deliberately NOT here:
    * measured at sf0.1, their ~75 consumers are mostly sub-second
    * relational rows where the floor exchange is a net tax (the whole
    * +0.1–0.3 s/row class, and q_approx_percentile's accuracy-10⁶ sketch
    * partials went 0.85 → 4.7 s when merged 32-ways) while only a
    * handful of heavy rows win (q_agg 2.2 → 0.97 s was the best case) —
    * the tax outweighed the wins in the full-sweep A/B. The TPC-H
    * dimension tables are broadcast sides by design, where an extra
    * exchange under the BroadcastExchange costs a stage and buys
    * nothing. */
  private val factTables = Map(
    "events" -> "event_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = name match {
      case "events" => events(spark, dir)
      case n        => spark.read.parquet(s"$dir/$n.parquet")
    }
    factTables.get(name).map(scanFloor(spark, df, _)).getOrElse(df)
  }

  /** Scan-parallelism floor — optimization guide §2.5 ("input skew: one
    * huge unsplittable file ... repartition immediately after the read")
    * and §6 (input split sizing). Parquet splits are row-group-granular
    * and the driver's testdata ships every table as ONE row group, so
    * every fact scan plans as a single task and all per-row work upstream
    * of the first exchange (round/cast/decimal-sum over lineitem, the
    * transform/md5 window kernels over documents) runs on ONE core of the
    * local[N] box. When the planned scan has fewer splits than the
    * session's parallelism, repartition to `defaultParallelism` right
    * after the read; the condition is computed from the ACTUAL planned
    * splits, so at any production layout (128 MB row groups, thousands of
    * files — splits >= cores) this is a provable no-op rather than a
    * local[32] tuning.
    *
    * The spread is HASH on the table's stable id column, NOT round-robin
    * `repartition(n)`: a keyless repartition first locally sorts every
    * input partition (spark.sql.execution.sortBeforeRepartition, on by
    * default since SPARK-23207 so retried tasks reproduce the same
    * row-to-partition map — guide §2.5) — and here the input is ONE task
    * holding the whole table, so that sort is a single-core full-table
    * sort added to EVERY reading query (measured: a sweep with the
    * round-robin form inflated ~150 sub-second rows by a 1.56× median,
    * q_scan 3.6×). Hashing a stable unique id needs no sort, is
    * deterministic under retries by value (the SPARK-38388 hazard only
    * applies to rand-derived keys), and spreads evenly (150k+ distinct
    * ids over N partitions). Filters and column pruning push through the
    * exchange (PushDownPredicates/ColumnPruning both handle
    * RepartitionOperation), so PushedFilters/ReadSchema at the scan are
    * unchanged — pinned by PlanSpec. */
  private def scanFloor(spark: SparkSession, df: DataFrame,
      idCol: String): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, df(idCol))
  }

  /** events.ts arrives in whichever parquet timestamp encoding the data
    * generator chose — it has shipped BOTH `TIMESTAMP(NANOS)` and
    * `timestamp[us]` at different times — so the loader dispatches on the
    * schema Spark actually infers rather than hard-coding either contract
    * (see [[normalizeTs]]). The nanos case needs the session-level
    * nanosAsLong conf PRE-pinned (Spark consults SQLConf at footer schema
    * conversion, so it cannot be scoped to one DataFrameReader): it is
    * FORCE-PINNED to true here (nanosAsLong is a registered SQLConf, so
    * `getOption` surfaces the `false` default even when the user never
    * set it — "set only if unset" is undecidable from the conf API) and
    * never toggled back, so concurrent readers in one session cannot race
    * it. Micros-encoded files are unaffected by the conf. Oracle
    * comparisons truncate to microseconds wherever ts order/equality
    * matters (the epoch_us(CAST(ts AS TIMESTAMP)) convention), which both
    * encodings satisfy.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark)(spark.read.parquet(s"$dir/events.parquet"))

  /** Pin nanosAsLong (see [[events]]), then normalize the events frame
    * `read` builds — the batch loader and the streaming file source
    * both read through here. */
  private[graft] def readEvents(spark: SparkSession)(
      read: => DataFrame): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(key).contains("true"))
      spark.conf.set(key, "true")
    normalizeTs(read)
  }

  /** Normalize the `ts` column to session-zone TimestampType, whatever
    * encoding the parquet carried:
    *  - LongType        → raw nanoseconds (TIMESTAMP(NANOS) read under
    *    nanosAsLong): integer-truncate to micros (`ts div 1000` stays in
    *    exact integer space — a double division would lose precision at
    *    1e18) and reinterpret as a timestamp;
    *  - TimestampNTZType → micros-encoded, isAdjustedToUTC=false: the
    *    wall-clock value must mean UTC in ANY session zone (DuckDB reads
    *    the same file zone-agnostically), so epoch micros come from
    *    `timestampdiff` against the NTZ epoch — NTZ−NTZ differences are
    *    zone-independent, where a cast to TimestampType would shift by
    *    the session offset. The engine's own sessions pin UTC anyway;
    *    this keeps library users in other zones correct too;
    *  - TimestampType   → already the target type.
    * Any other type is a generator contract change we must hear about
    * loudly, not mask. Shared by the batch loader and the streaming
    * file source so both arms can never diverge.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", timestamp_micros(expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other; expected raw-nanos LONG, " +
          "TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
}
