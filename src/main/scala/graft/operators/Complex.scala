package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, Tables}

/** Array / map / JSON operators and the text-format source+sink round
  * trips (SURVEY.md §2.4 rows the reference lacks entirely — its only
  * format is tab-separated text lines).
  */
object Complex {

  /** Deterministic scratch dir for the sink round-trip queries, under
    * the JVM's [[Scratch]] root. */
  private def scratch(name: String): String = Scratch.path(s"sink/$name")

  /** Numbers each user's 30-minute-gap sessions: a lag over the
    * (ts, event_id) order, then a running sum of session starts. One
    * user_id shuffle, two ordered window passes. Microseconds everywhere:
    * exact integers on both engines (a seconds cast truncates on Spark but
    * not in DuckDB's epoch()). */
  private def withSessionId(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** The oracle's `g` CTE: each user's events in microsecond order with
    * the gap to the previous one; `cols` are the extra event columns it
    * carries. */
  private def sessionGapCte(cols: String): String = s"""WITH g AS (
                SELECT user_id, event_id, $cols
                  epoch_us(CAST(ts AS TIMESTAMP)) AS eus,
                  epoch_us(CAST(ts AS TIMESTAMP)) -
                    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                      (PARTITION BY user_id
                       -- order by the MICROSECOND-truncated time, like the
                       -- Spark side (whose reader truncates nanos): raw-ts
                       -- order could invert same-microsecond pairs
                       ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
                      AS gap_us
                FROM events)"""

  /** [[sessionGapCte]] plus `sid`, the oracle's [[withSessionId]]: `cols`
    * carried through `g`, `sidCols` kept by `sid` next to `session_id`. */
  private[graft] def sessionIdCtes(cols: String, sidCols: String): String =
    sessionGapCte(cols) + s""",
              sid AS (
                SELECT user_id, $sidCols
                  CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                                THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY eus, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
                FROM g)"""

  /** One row per session over [[sessionIdCtes]]' `sid`. */
  private[graft] val SessionRollupSql: String =
    """SELECT user_id, session_id, COUNT(*) AS n_events,
                MIN(eus) AS start_us, MAX(eus) AS end_us
              FROM sid GROUP BY user_id, session_id"""

  /** Ordered funnel stages signup → click → purchase: stage k's earliest
    * instant is a per-user MIN over the events `after(us, t_{k-1})`
    * admits. Every shuffle is on user_id with map-side partials; the
    * 1-row stage counts meet via broadcast. */
  private def funnel(events: DataFrame,
      after: (Column, Column) => Column): DataFrame = {
    val ev = events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val t1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, "user_id").filter(after(col("us"), col("t1")))
      .groupBy("user_id").agg(min(col("us")).as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, "user_id").filter(after(col("us"), col("t2")))
      .groupBy("user_id").agg(min(col("us")).as("t3"))
    t1.agg(count(lit(1)).as("n_signup"))
      .crossJoin(broadcast(t2.agg(count(lit(1)).as("n_click"))))
      .crossJoin(broadcast(t3.agg(count(lit(1)).as("n_purchase"))))
  }

  /** [[funnel]]'s oracle; `after(t)` is the stage predicate over the
    * previous stage's instant `t`. */
  private def funnelSql(after: String => String): String =
    s"""WITH ev AS (
                SELECT user_id, event_type,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
                FROM events),
              t1 AS (SELECT user_id, MIN(us) AS t1 FROM ev
                     WHERE event_type = 'signup' GROUP BY user_id),
              t2 AS (SELECT ev.user_id, MIN(us) AS t2
                     FROM ev JOIN t1 USING (user_id)
                     WHERE event_type = 'click' AND ${after("t1")}
                     GROUP BY ev.user_id),
              t3 AS (SELECT ev.user_id, MIN(us) AS t3
                     FROM ev JOIN t2 USING (user_id)
                     WHERE event_type = 'purchase' AND ${after("t2")}
                     GROUP BY ev.user_id)
              SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS n_signup,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM t2) AS n_click,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM t3) AS n_purchase"""

  /** q_funnel's oracle: each stage strictly after the previous one. */
  private[graft] val FunnelOracleSql: String = funnelSql(t => s"us > $t")

  val queries: Seq[Q] = Seq(

    // ---- from_json + struct access ---------------------------------------
    Q("q_from_json",
      (s, d) => Tables(s, d, "events")
        .withColumn("p", from_json(col("props"), StructType(Seq(
          StructField("k", LongType)))))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("p.k")).as("sum_k"),
          min(col("p.k")).as("min_k"),
          max(col("p.k")).as("max_k"),
          countDistinct(col("p.k")).as("n_distinct_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS n,
              CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
              MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
              MAX(CAST(props->>'k' AS BIGINT)) AS max_k,
              COUNT(DISTINCT CAST(props->>'k' AS BIGINT)) AS n_distinct_k
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- map functions ---------------------------------------------------
    // props parsed as MapType; exercises map_keys/map_values/explode(map).
    Q("q_map_ops",
      (s, d) => Tables(s, d, "events")
        .withColumn("m", from_json(col("props"), MapType(StringType, LongType)))
        .select(col("event_id"), explode(col("m")).as(Seq("mk", "mv")))
        .groupBy("mk")
        .agg(count(lit(1)).as("n"), sum(col("mv")).as("sum_v"))
        .orderBy("mk"),
      Some("""SELECT mk, COUNT(*) AS n, CAST(SUM(mv) AS BIGINT) AS sum_v FROM (
                SELECT event_id, mk,
                  CAST(json_extract_string(props, '$.' || mk) AS BIGINT) AS mv
                FROM (SELECT event_id, props,
                        unnest(json_keys(props)) AS mk FROM events))
              GROUP BY mk ORDER BY mk""")),

    // ---- array construction + functions ----------------------------------
    // Per-user sorted distinct event types: collect_set → sort_array,
    // then array predicates/access. The list itself is emitted as a
    // canonical comma-joined STRING on both sides: the driver's pandas
    // compare cannot sort/hash list-typed columns.
    Q("q_array_ops",
      (s, d) => Tables(s, d, "events")
        .groupBy("user_id")
        .agg(sort_array(collect_set(col("event_type"))).as("types_arr"))
        .select(col("user_id"),
          array_join(col("types_arr"), ",").as("types"),
          size(col("types_arr")).cast("long").as("n_types"),
          array_contains(col("types_arr"), "click").as("has_click"),
          element_at(col("types_arr"), 1).as("first_type"))
        .orderBy("user_id"),
      Some("""SELECT user_id,
              array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
              len(list(DISTINCT event_type)) AS n_types,
              list_contains(list(DISTINCT event_type), 'click') AS has_click,
              list_sort(list(DISTINCT event_type))[1] AS first_type
              FROM events GROUP BY user_id ORDER BY user_id""")),

    // ---- sessionization (the streaming semantics, batch form) ------------
    // 30-minute-gap sessions per user: the exact computation
    // streaming.Streams.sessionize runs incrementally with
    // flatMapGroupsWithState; kept here in batch form so it gets a
    // correctness row. One shuffle (user_id), two ordered window passes.
    Q("q_sessionize",
      (s, d) => withSessionId(Tables(s, d, "events"))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"))
        .orderBy("user_id", "session_id"),
      Some(sessionIdCtes("", "event_id, eus,") + s"""
              $SessionRollupSql
              ORDER BY user_id, session_id""")),

    // ---- session attribution (first/last touch + conversion) -------------
    // The marketing-analytics layer over sessionization: per 30-min-gap
    // session, the FIRST-touch and LAST-touch event types (the two
    // attribution models), purchase count, and attributed purchase value.
    // Same session-index recipe as q_sessionize (gap lag + running sum —
    // one user_id shuffle, two window passes); attribution itself is
    // min_by/max_by argmins over the exact (eus, event_id) order, so the
    // per-session reduction partial-aggregates — no third window pass,
    // and Zipf-heavy users cost one partial row per task. The argmin
    // runs over an INT rank of the bounded event-type taxonomy with the
    // key packed into one DECIMAL(33,0) (eus·10^12 + event_id — the
    // oracle's own HUGEINT packing, order-isomorphic to the struct
    // while 0 ≤ event_id < 10^12, pinned per driver SF in HarnessSpec):
    // min_by over the STRING event_type with a struct key carries a
    // non-mutable buffer, which forced SortAggregate — a per-partition
    // sort of the events corpus in both phases — where the
    // (int, decimal) buffer hash-aggregates. The rank is any bijection
    // (the argmin orders by the KEY, not the value), built name-ranked
    // from a one-task window over the distinct types and inverted back
    // through the same broadcast dim after the rollup (the
    // q_ngram_novelty recipe). Value sums run through the Arith round-6
    // decimal discipline.
    Q("q_session_attrib",
      (s, d) => {
        val dim = Tables(s, d, "events").select("event_type").distinct()
          .withColumn("etc", row_number().over(Window.orderBy("event_type")))
          .localCheckpoint()
        val k = expr("unix_micros(ts)").cast("decimal(20,0)") *
          lit(1000000000000L).cast("decimal(13,0)") + col("event_id")
        withSessionId(Tables(s, d, "events")
            .join(broadcast(dim), Seq("event_type")))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            min_by(col("etc"), k).as("ftc"),
            max_by(col("etc"), k).as("ltc"),
            count_if(col("event_type") === "purchase").as("n_purchases"),
            Arith.dsum(when(col("event_type") === "purchase", col("value"))
              .otherwise(lit(0.0))).as("purchase_value"))
          .join(broadcast(dim.select(col("etc").as("ftc"),
            col("event_type").as("first_touch"))), Seq("ftc"))
          .join(broadcast(dim.select(col("etc").as("ltc"),
            col("event_type").as("last_touch"))), Seq("ltc"))
          .select(col("user_id"), col("session_id"), col("n_events"),
            col("first_touch"), col("last_touch"), col("n_purchases"),
            col("purchase_value"))
          .orderBy("user_id", "session_id")
      },
      Some(sessionIdCtes("event_type, value,", """event_id, event_type, value, eus,
                  eus::HUGEINT * 1000000000000 + event_id AS k,""") + s"""
              SELECT user_id, session_id, COUNT(*) AS n_events,
                arg_min(event_type, k) AS first_touch,
                arg_max(event_type, k) AS last_touch,
                CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
                  AS n_purchases,
                ${Arith.sqlSum(
                  "CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END")}
                  AS purchase_value
              FROM sid GROUP BY user_id, session_id
              ORDER BY user_id, session_id""")),

    // ---- pivot -----------------------------------------------------------
    // Event counts per user pivoted into one column per event type. Spark
    // plans pivot as a single groupBy with conditional aggregates — the
    // oracle spells that formulation out.
    Q("q_pivot",
      (s, d) => Tables(s, d, "events")
        .groupBy("user_id")
        .pivot("event_type",
          Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id"),
      Some("""SELECT user_id,
              COUNT(*) FILTER (event_type = 'click') AS click,
              COUNT(*) FILTER (event_type = 'view') AS view,
              COUNT(*) FILTER (event_type = 'purchase') AS purchase,
              COUNT(*) FILTER (event_type = 'signup') AS signup,
              COUNT(*) FILTER (event_type = 'error') AS error
              FROM events GROUP BY user_id ORDER BY user_id""")),

    // ---- unpivot (wide → long) -------------------------------------------
    // The inverse of q_pivot: melt the lineitem measure columns into
    // (metric, val) rows — the normalization step feature pipelines use
    // before per-metric aggregation. Narrow, shuffle-free generate (each
    // input row expands to 3 output rows in place); keyed to a 1% orderkey
    // slice so the row-level output stays compare-sized. Sorted by ALL
    // output columns: (l_orderkey, l_linenumber) is not unique in
    // lineitem, so anything less makes the hash compare nondeterministic.
    Q("q_unpivot",
      (s, d) => Tables(s, d, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount")),
          variableColumnName = "metric",
          valueColumnName = "val")
        .orderBy("l_orderkey", "l_linenumber", "metric", "val"),
      Some("""SELECT l_orderkey, l_linenumber, metric, val
              FROM (UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
                               l_extendedprice, l_discount
                             FROM lineitem WHERE l_orderkey % 100 = 0)
                    ON l_quantity, l_extendedprice, l_discount
                    INTO NAME metric VALUE val)
              ORDER BY l_orderkey, l_linenumber, metric, val""")),

    // ---- csv sink + source round trip ------------------------------------
    // D8/D1 for typed formats: write the nation dim to csv with an explicit
    // schema, read it back, aggregate. The oracle reads the ORIGINAL
    // parquet — a mismatch anywhere in the write/read path fails the row.
    Q("q_csv_roundtrip",
      (s, d) => {
        val out = scratch("nation_csv")
        Tables(s, d, "nation").write.mode("overwrite")
          .option("header", "true").csv(out)
        s.read.option("header", "true")
          .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
          .csv(out)
          .groupBy("n_regionkey")
          .agg(count(lit(1)).as("n_nations"),
            // comma-joined string, not a list: driver compare can't hash lists
            array_join(sort_array(collect_set(col("n_name"))), ",").as("names"))
          .orderBy("n_regionkey")
      },
      Some("""SELECT n_regionkey, COUNT(*) AS n_nations,
              array_to_string(list_sort(list(n_name)), ',') AS names
              FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    // ---- orc sink + source round trip -------------------------------------
    // The columnar alternative to parquet (Spark-native ORC reader/writer):
    // write the part dim to ORC, read it back, aggregate. The oracle reads
    // the ORIGINAL parquet, so any type/value drift in the ORC path fails.
    Q("q_orc_roundtrip",
      (s, d) => {
        val out = scratch("part_orc")
        Tables(s, d, "part").write.mode("overwrite").orc(out)
        s.read.orc(out)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_parts"),
            max(col("p_size")).as("max_size"),
            Arith.dsum(col("p_retailprice")).as("total_price"))
          .orderBy("p_brand")
      },
      Some(s"""SELECT p_brand, COUNT(*) AS n_parts, MAX(p_size) AS max_size,
              ${Arith.sqlSum("p_retailprice")} AS total_price
              FROM part GROUP BY p_brand ORDER BY p_brand""")),

    // ---- custom DataSource V2: the reference's text-dir table -------------
    // Write documents as text lines, read them back through the
    // graft.sources.TextDirSource DSv2 connector (one partition per file,
    // sorted D1 listing, column pruning), aggregate. The oracle recomputes
    // the same lines from the ORIGINAL parquet.
    Q("q_textdir_scan",
      (s, d) => {
        val out = scratch("docs_textdir")
        Tables(s, d, "documents")
          .select(concat_ws("\t", col("doc_id"), md5(col("text"))).as("value"))
          .repartition(3)
          .write.mode("overwrite").text(out)
        s.read.format(graft.sources.TextDirSource.Name).load(out)
          .agg(count(lit(1)).as("n_lines"),
            countDistinct(col("file")).as("n_files"),
            min(col("line")).as("min_line"),
            max(col("line")).as("max_line"))
      },
      Some("""SELECT COUNT(*) AS n_lines, CAST(3 AS BIGINT) AS n_files,
              MIN(CAST(doc_id AS VARCHAR) || chr(9) || md5(text)) AS min_line,
              MAX(CAST(doc_id AS VARCHAR) || chr(9) || md5(text)) AS max_line
              FROM documents""")),

    // ---- hive-partitioned parquet sink + partition-pruned read-back -------
    // The 100 TB layout pattern: write events partitioned BY COLUMN
    // (`partitionBy` → one directory per event_type), read back with a
    // partition filter — the scan must touch ONLY the matching directory
    // (PartitionFilters in the plan, pinned in PlanSpec; at scale this is
    // the difference between reading 1/5 of the lake and all of it).
    // The oracle reads the ORIGINAL parquet with the same predicate, so
    // any value drift through the partitioned write/read fails the row.
    Q("q_partitioned_roundtrip",
      (s, d) => {
        val out = scratch("events_by_type")
        Tables(s, d, "events")
          .select(col("event_id"), col("user_id"), col("value"),
            col("event_type"))
          .write.mode("overwrite").partitionBy("event_type").parquet(out)
        s.read.parquet(out)
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("user_id")).cast("long").as("sum_users"),
            Arith.dsum(col("value")).as("sum_value"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type, COUNT(*) AS n,
              CAST(SUM(user_id) AS BIGINT) AS sum_users,
              ${Arith.sqlSum("value")} AS sum_value
              FROM events WHERE event_type IN ('click', 'purchase')
              GROUP BY event_type ORDER BY event_type""")),

    // ---- schema evolution across parquet generations ----------------------
    // The "pipeline added a column" lake scenario: generation v=1 wrote
    // events WITHOUT `value`, v=2 added it. A mergeSchema read must union
    // the schemas (old files surface NULL for the new column) and compute
    // correct aggregates across generations. The oracle recomputes from
    // the ORIGINAL table with the same generation rule, so any loss or
    // misalignment in the merged read fails the row.
    Q("q_schema_evolution",
      (s, d) => {
        val out = scratch("events_evolving")
        val e = Tables(s, d, "events")
        e.filter(col("event_id") % 2 === 0)
          .select("event_id", "user_id", "event_type")
          .write.mode("overwrite").parquet(s"$out/v=1")
        e.filter(col("event_id") % 2 === 1)
          .select("event_id", "user_id", "event_type", "value")
          .write.mode("overwrite").parquet(s"$out/v=2")
        s.read.option("mergeSchema", "true").parquet(out)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            count(col("value")).as("n_with_value"),
            Arith.dsum(coalesce(col("value"), lit(0.0))).as("sum_value"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type, COUNT(*) AS n,
              COUNT(CASE WHEN event_id % 2 = 1 THEN 1 END) AS n_with_value,
              ${Arith.sqlSum("CASE WHEN event_id % 2 = 1 THEN value ELSE 0 END")}
                AS sum_value
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- json-lines sink + source round trip ------------------------------
    Q("q_json_roundtrip",
      (s, d) => {
        val out = scratch("supplier_json")
        Tables(s, d, "supplier")
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
          .write.mode("overwrite").json(out)
        s.read
          // types mirror the original parquet (suppkey int64, nationkey int32)
          .schema("s_suppkey LONG, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
          .json(out)
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_suppliers"),
            Arith.dsum(col("s_acctbal")).as("total_acctbal"))
          .orderBy("s_nationkey")
      },
      Some(s"""SELECT s_nationkey, COUNT(*) AS n_suppliers,
              ${Arith.sqlSum("s_acctbal")} AS total_acctbal
              FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // ---- MERGE / upsert (apply a changeset to a base table) ---------------
    // The warehouse MERGE INTO primitive as a pure dataflow: matched keys
    // take the changeset's row (UPDATE), unmatched changeset keys append
    // (INSERT), everything else passes through. Expressed as
    // base ANTI-JOIN changes ∪ changes — ONE join, and when the changeset
    // is small (the nightly-delta norm) Spark plans it as a broadcast
    // anti-join: the 100 TB base streams through map-side with no
    // shuffle, which is exactly how a file-format MERGE (Delta/Iceberg
    // copy-on-write) schedules its rewrite. The changeset here derives
    // deterministically from the base so the oracle sees the same rows:
    // keys ≡ 0 (mod 10) get repriced, keys ≡ 7 (mod 10) re-enter as new
    // orders under a key shifted past max(o_orderkey) — computed IN-PLAN
    // (1-row broadcast agg, no driver collect) so inserted keys can never
    // collide with existing base keys at any scale factor (a fixed shift
    // would collide once sf grows past it and silently turn inserts into
    // deletes of the colliding base rows).
    Q("q_merge_upsert",
      (s, d) => {
        val base = Tables(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val shift = base.agg(max(col("o_orderkey")).as("__shift"))
        val updates = base.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 100.0)
        val inserts = base.filter(col("o_orderkey") % 10 === 7)
          .crossJoin(broadcast(shift))
          .withColumn("o_orderkey", col("o_orderkey") + col("__shift"))
          .drop("__shift")
        val changes = updates.unionByName(inserts)
        base.join(changes.select("o_orderkey"), Seq("o_orderkey"),
            "left_anti")
          .unionByName(changes)
          .orderBy("o_orderkey")
      },
      Some("""WITH chg AS (
                SELECT o_orderkey, o_custkey, o_totalprice + 100.0
                    AS o_totalprice
                FROM orders WHERE o_orderkey % 10 = 0
                UNION ALL
                SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM orders),
                  o_custkey, o_totalprice
                FROM orders WHERE o_orderkey % 10 = 7)
              SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
              FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM chg c
                                WHERE c.o_orderkey = o.o_orderkey)
              UNION ALL
              SELECT o_orderkey, o_custkey, o_totalprice FROM chg
              ORDER BY o_orderkey""")),

    // ---- SCD type-2 history build ------------------------------------------
    // The dimension-versioning pattern (slowly-changing-dimension type 2)
    // built from a changelog: each (user_id, event_type) version gets a
    // half-open validity interval [valid_from, valid_to) with valid_to =
    // the next version's instant, NULL on the current version — the
    // effective-dated history a warehouse keeps next to the keep-latest
    // snapshot (q_dedup_latest is exactly this query's is_current slice).
    // One shuffle on the version key, one lead() pass; ties inside a
    // microsecond totalize on event_id, the q_sessionize discipline, so
    // the interval chain is deterministic. A degenerate chain (two
    // versions at one microsecond) yields an EMPTY half-open interval for
    // the earlier one — the correct statement that it was never current.
    Q("q_scd2",
      (s, d) => {
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("valid_from"), col("event_id"))
        Tables(s, d, "events")
          .select(col("user_id"), col("event_type"), col("event_id"),
            col("value"), unix_micros(col("ts")).as("valid_from"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
          .withColumn("is_current", col("valid_to").isNull)
          .orderBy("user_id", "event_type", "valid_from", "event_id")
      },
      Some("""WITH v AS (
                SELECT user_id, event_type, event_id, value,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS valid_from
                FROM events)
              SELECT user_id, event_type, event_id, value, valid_from,
                lead(valid_from) OVER (PARTITION BY user_id, event_type
                  ORDER BY valid_from, event_id) AS valid_to,
                (lead(valid_from) OVER (PARTITION BY user_id, event_type
                  ORDER BY valid_from, event_id) IS NULL) AS is_current
              FROM v
              ORDER BY user_id, event_type, valid_from, event_id""")),

    // ---- time-series gap filling (resample to a dense grid) ---------------
    // Hourly counts per event type with EVERY hour present — silent gaps
    // poison downstream window math (a 7-day moving average over sparse
    // rows averages the wrong denominator). The dense (hour × type) grid
    // comes from an in-plan sequence over the corpus min/max (1-row agg,
    // no driver collect) crossed with the distinct types (bounded
    // cardinality); actuals LEFT-join onto it and missing slots coalesce
    // to zero. Scale shape: grid rows = hours × types (tiny vs events);
    // the heavy side joins once on (hour, type).
    Q("q_events_gapfill",
      (s, d) => {
        // FLOOR division to the hour bucket on BOTH engines. DuckDB's
        // integer `//` truncates toward zero (NOT floors), so the oracle
        // below applies the same (l - pmod(l, w)) subtraction before its
        // `//`: the numerator is then exactly divisible and truncation
        // equals floor at any sign. Floor is the right bucket semantics —
        // a pre-1970 instant belongs to the hour CONTAINING it, not the
        // one above.
        val e = Tables(s, d, "events")
          .select(
            expr("""(unix_micros(ts) - pmod(unix_micros(ts), 3600000000L))
                    DIV 3600000000L""").as("hr"),
            col("event_type"), col("value"))
        val hours = e.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
          .select(explode(sequence(col("h0"), col("h1"))).as("hr"))
        val grid = hours.crossJoin(
          broadcast(e.select("event_type").distinct()))
        val actual = e.groupBy("hr", "event_type")
          .agg(count(lit(1)).as("n"), Arith.dsum(col("value")).as("sum_value"))
        grid.join(actual, Seq("hr", "event_type"), "left")
          .select(col("hr").as("hour_no"), col("event_type"),
            coalesce(col("n"), lit(0L)).as("n"),
            coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
          .orderBy("hour_no", "event_type")
      },
      Some(s"""WITH us AS (
                SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type,
                  value
                FROM events),
              e AS (
                SELECT (us - ((us % 3600000000) + 3600000000) % 3600000000)
                    // 3600000000 AS hr, event_type, value
                FROM us),
              hours AS (
                SELECT unnest(generate_series((SELECT MIN(hr) FROM e),
                                              (SELECT MAX(hr) FROM e))) AS hr),
              grid AS (
                SELECT hr, event_type
                FROM hours, (SELECT DISTINCT event_type FROM e)),
              actual AS (
                SELECT hr, event_type, COUNT(*) AS n,
                  ${Arith.sqlSum("value")} AS sum_value
                FROM e GROUP BY hr, event_type)
              SELECT g.hr AS hour_no, g.event_type,
                COALESCE(a.n, 0) AS n,
                COALESCE(a.sum_value, 0.0) AS sum_value
              FROM grid g LEFT JOIN actual a
                ON g.hr = a.hr AND g.event_type = a.event_type
              ORDER BY hour_no, g.event_type""")),

    // ---- hourly OHLC bars (argmin/argmax aggregation) ----------------------
    // The time-series bar aggregation (open/high/low/close per hour ×
    // event_type): open/close are the FIRST/LAST value under the total
    // event order, i.e. min_by/max_by — the argmin/argmax aggregation
    // family, which is only deterministic if the ordering key is a TOTAL
    // order. Events can share a microsecond, so the key is (ts_us,
    // event_id) packed into one DECIMAL(33,0) — us·10^10 + id, order-
    // isomorphic to the pair while 0 ≤ event_id < 10^10 (pinned for
    // every driver SF in HarnessSpec, like the session_attrib 10^12
    // bound; the oracle packs the SAME pair into a zero-padded string
    // whose lexicographic order equals this numeric order for us ≥ 0).
    // A decimal key keeps the min_by buffer fixed-width, so the whole
    // aggregate HASH-aggregates — a (double, string-key) buffer is not
    // mutable and forced SortAggregate, a per-partition sort of the
    // events corpus in both partial and final phases. high/low are
    // plain min/max; no sums anywhere, so every output double is an
    // exact pick from the input, not an accumulation. One
    // partial-aggregated shuffle on (hour, type); min_by carries
    // (value, key) per group — O(1) state, the same map-side combine
    // story as any min.
    Q("q_events_ohlc",
      (s, d) => {
        val e = Tables(s, d, "events")
          .select(
            expr("""(unix_micros(ts) - pmod(unix_micros(ts), 3600000000L))
                    DIV 3600000000L""").as("hr"),
            col("event_type"), col("value"),
            (expr("unix_micros(ts)").cast("decimal(20,0)") *
              lit(10000000000L).cast("decimal(11,0)") +
              col("event_id")).as("ok"))
        e.groupBy("hr", "event_type")
          .agg(min_by(col("value"), col("ok")).as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max_by(col("value"), col("ok")).as("close"),
            count(lit(1)).as("n"))
          .orderBy("hr", "event_type")
      },
      Some("""WITH us AS (
                SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type,
                  value, event_id
                FROM events),
              e AS (
                SELECT (us - ((us % 3600000000) + 3600000000) % 3600000000)
                    // 3600000000 AS hr, event_type, value,
                  lpad(CAST(us AS VARCHAR), 20, '0') ||
                    lpad(CAST(event_id AS VARCHAR), 10, '0') AS ok
                FROM us)
              SELECT hr, event_type,
                arg_min(value, ok) AS open,
                MAX(value) AS high,
                MIN(value) AS low,
                arg_max(value, ok) AS close,
                COUNT(*) AS n
              FROM e GROUP BY hr, event_type
              ORDER BY hr, event_type""")),

    // ---- Z-order layout (multi-dimensional clustering) --------------------
    // The data-layout story behind Delta/Iceberg OPTIMIZE ZORDER: interleave
    // the bits of two dimensions (10 bits each here — user bucket × time
    // bucket) into one z-value and assign rows to "files" by z-RANGE. Each
    // file then covers a bounded SQUARE in (d1, d2) space — the per-file
    // min/max spans this query emits are what lets a reader prune files
    // for predicates on EITHER dimension, where a one-dimension sort gives
    // unbounded spans in the other. Everything is exact integer bit
    // arithmetic in a codegen'd higher-order fold: no window, no global
    // sort, no UDF — the file assignment is a pure per-row function and
    // the only shuffle is the per-file rollup.
    Q("q_layout_zorder",
      (s, d) => Tables(s, d, "events")
        .select(
          pmod(col("user_id"), lit(1024L)).as("d1"),
          // floor-div to seconds via the pmod subtraction (DuckDB `//` and
          // Spark DIV both truncate; the oracle applies the same
          // subtraction so both floor), then pmod — sign-safe on both
          pmod(expr("""(unix_micros(ts) - pmod(unix_micros(ts), 1000000L))
                       DIV 1000000L"""), lit(1024L)).as("d2"))
        .withColumn("z", expr(
          """aggregate(sequence(0, 9), 0L, (acc, i) ->
             acc + pmod(shiftright(d1, i), 2) * shiftleft(1L, 2 * i)
                 + pmod(shiftright(d2, i), 2) * shiftleft(1L, 2 * i + 1))"""))
        .withColumn("file_id", floor(col("z") / 32768L).cast("long"))
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_rows"),
          min(col("d1")).as("min_d1"), max(col("d1")).as("max_d1"),
          min(col("d2")).as("min_d2"), max(col("d2")).as("max_d2"),
          (max(col("d1")) - min(col("d1"))).as("span_d1"),
          (max(col("d2")) - min(col("d2"))).as("span_d2"))
        .orderBy("file_id"),
      // pmod on the Spark side (non-negative) vs DuckDB's sign-following
      // `%`: mirror pmod explicitly with ((x % m) + m) % m so the two
      // engines agree even for negative user_ids / pre-1970 timestamps.
      Some("""WITH us AS (
                SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
                FROM events),
              b AS (
                SELECT ((user_id % 1024) + 1024) % 1024 AS d1,
                  ((((us - ((us % 1000000) + 1000000) % 1000000) // 1000000)
                    % 1024) + 1024) % 1024 AS d2
                FROM us),
              z AS (
                SELECT d1, d2,
                  list_sum([((d1 >> i) & 1) * (1::BIGINT << (2 * i))
                            + ((d2 >> i) & 1) * (1::BIGINT << (2 * i + 1))
                            FOR i IN generate_series(0, 9)]) AS z
                FROM b)
              SELECT CAST(FLOOR(z / 32768) AS BIGINT) AS file_id,
                COUNT(*) AS n_rows,
                MIN(d1) AS min_d1, MAX(d1) AS max_d1,
                MIN(d2) AS min_d2, MAX(d2) AS max_d2,
                MAX(d1) - MIN(d1) AS span_d1,
                MAX(d2) - MIN(d2) AS span_d2
              FROM z GROUP BY 1 ORDER BY file_id""")),

    // ---- native session windows -------------------------------------------
    // Spark's session_window() generator next to the hand-rolled islands
    // formulation (q_sessionize): the native operator plans a dedicated
    // SessionWindow aggregation (merging sort-based, no window-function
    // shuffle-per-row), the 100 TB-preferred path. Boundary semantics
    // DIFFER from the islands query on exact-gap ties — session windows
    // are half-open [start, last + gap), so a gap of EXACTLY 30 min
    // starts a NEW session, while q_sessionize's `gap > 30min` predicate
    // merges it — hence the oracle's `>=` island rule. Session bounds
    // report as min/max event times (the window struct's `end` is
    // last + gap, which would leak the gap constant into the schema).
    Q("q_session_window",
      (s, d) => Tables(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"))
        .select(col("user_id"), col("n_events"), col("start_us"),
          col("end_us"))
        .orderBy("user_id", "start_us"),
      Some(sessionGapCte("") + """,
              s AS (
                SELECT user_id, eus,
                  SUM(CASE WHEN gap_us IS NULL OR gap_us >= 1800000000
                           THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY eus, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS session_id
                FROM g)
              SELECT user_id, COUNT(*) AS n_events,
                MIN(eus) AS start_us, MAX(eus) AS end_us
              FROM s GROUP BY user_id, session_id
              ORDER BY user_id, start_us""")),

    // ---- ordered funnel analysis ------------------------------------------
    // The product-analytics staple: how many users completed
    // signup → click → purchase IN ORDER (strictly increasing event
    // time). Stage k's earliest qualifying instant is a per-user MIN over
    // events later than stage k−1's — three conditional aggregations
    // chained by per-user joins, every shuffle on user_id with map-side
    // partials, stage frames shrinking monotonically. The 1-row stage
    // counts meet via broadcast. At 100 TB each stage is one
    // user-partitioned agg over an already-filtered event slice — no
    // windows over the full stream, no per-user state beyond one MIN.
    Q("q_funnel",
      (s, d) => funnel(Tables(s, d, "events"), (us, t) => us > t),
      Some(FunnelOracleSql)),

    // ---- funnel with a bounded conversion window ---------------------------
    // The production form of q_funnel: a stage converts only within a
    // horizon of the previous stage ("click within 48 h of signup,
    // purchase within 48 h of that click"). Identical join-chained shape
    // — one extra codegen'd predicate per stage — so the scale contract
    // is unchanged: per-stage user-keyed MIN aggs over pre-filtered event
    // slices, no windows over the full stream. Semantics are the standard
    // sequential ones: stage k's clock starts at stage k−1's EARLIEST
    // in-window instant. At sf0.01 the 48 h window genuinely binds
    // (150/105/68 vs 150/150/150 unbounded).
    Q("q_funnel_windowed",
      (s, d) => {
        val horizonUs = 172800000000L // 48 h
        funnel(Tables(s, d, "events"),
          (us, t) => us > t && us - t <= horizonUs)
      },
      Some(funnelSql(t => s"us > $t\n                       AND us - $t <= 172800000000"))),

    // ---- cohort retention --------------------------------------------------
    // Users cohorted by their FIRST active hour; retention = distinct
    // users of cohort c active again exactly k hours later (k ≤ 5). Two
    // user-keyed aggregations (first-seen, then distinct user-hours) and
    // one join back — the classic retention triangle without any window
    // over the event stream. Hour bucketing matches q_events_gapfill's
    // floor-division discipline.
    Q("q_cohort_retention",
      (s, d) => {
        val e = Tables(s, d, "events")
          .select(col("user_id"),
            expr("""(unix_micros(ts) - pmod(unix_micros(ts), 3600000000L))
                    DIV 3600000000L""").as("hr"))
        val uh = e.distinct()
        val cohort = uh.groupBy("user_id").agg(min(col("hr")).as("c0"))
        uh.join(cohort, "user_id")
          .select(col("c0"), (col("hr") - col("c0")).as("offset_h"),
            col("user_id"))
          .filter(col("offset_h") <= 5)
          .groupBy("c0", "offset_h")
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("c0", "offset_h")
      },
      Some("""WITH us AS (
                SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
                FROM events),
              uh AS (
                SELECT DISTINCT user_id,
                  (us - ((us % 3600000000) + 3600000000) % 3600000000)
                    // 3600000000 AS hr
                FROM us),
              cohort AS (
                SELECT user_id, MIN(hr) AS c0 FROM uh GROUP BY user_id)
              SELECT c.c0, uh.hr - c.c0 AS offset_h,
                CAST(COUNT(DISTINCT uh.user_id) AS BIGINT) AS n_users
              FROM uh JOIN cohort c USING (user_id)
              WHERE uh.hr - c.c0 <= 5
              GROUP BY c.c0, offset_h ORDER BY c.c0, offset_h""")),

    // ---- event transition matrix (first-order Markov) ----------------------
    // P(next event type | current) from each user's time-ordered stream:
    // one user-partitioned lag window (the only shuffle), then a tiny
    // per-pair count with the row-probability as an exact single division
    // shipped micro-fixed-point. The per-user window never materializes
    // more than one preceding row; ties inside a microsecond break on
    // event_id exactly like q_sessionize.
    Q("q_event_transitions",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(unix_micros(col("ts")), col("event_id"))
        val pairs = Tables(s, d, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type").as("nxt"))
          .withColumn("cur", lag(col("nxt"), 1).over(w))
          .filter(col("cur").isNotNull)
        val counts = pairs.groupBy("cur", "nxt")
          .agg(count(lit(1)).as("n"))
        val totals = counts.groupBy("cur").agg(sum(col("n")).as("tot"))
        counts.join(totals, "cur")
          .select(col("cur"), col("nxt"), col("n"),
            floor(col("n").cast("double") / col("tot") * 1e6 + 0.5)
              .cast("long").as("p_micros"))
          .orderBy("cur", "nxt")
      },
      Some("""WITH p AS (
                SELECT user_id,
                  lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
                    AS cur,
                  event_type AS nxt
                FROM events),
              c AS (
                SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n FROM p
                WHERE cur IS NOT NULL GROUP BY cur, nxt),
              t AS (SELECT cur, SUM(n) AS tot FROM c GROUP BY cur)
              SELECT c.cur, c.nxt, c.n,
                CAST(FLOOR(CAST(c.n AS DOUBLE) / t.tot * 1000000 + 0.5)
                  AS BIGINT) AS p_micros
              FROM c JOIN t USING (cur) ORDER BY c.cur, c.nxt""")),

    // ---- exponentially-weighted moving average ----------------------------
    // Per-user EWMA of `value` over the last ≤20 events (time-ordered,
    // event_id tiebreak): the time-series smoothing pass, α = 1/2.
    // Exactness across engines without any rounding discipline: the
    // bounded frame materializes as an ORDERED list (both engines build
    // window lists in frame order) and the Horner fold
    // acc·0.5 + v runs the IDENTICAL IEEE op sequence on both sides —
    // multiplying by 0.5 is an exponent shift, exact for every double,
    // and both folds seed with the frame's first element (DuckDB's
    // list_reduce has no explicit zero, so the Spark side seeds
    // element 1 and folds the tail). A plain windowed SUM of decayed
    // terms would NOT be safe: DuckDB computes window sums with a
    // segment tree, so double addition associates differently than
    // Spark's running fold. Scale: one user-keyed shuffle, O(frame)
    // state per row, horizon-bounded like any production EWMA.
    Q("q_ewma",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(unix_micros(col("ts")), col("event_id"))
          .rowsBetween(-19, 0)
        Tables(s, d, "events")
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
          .withColumn("vs", collect_list(col("value")).over(w))
          .select(col("user_id"), col("event_id"),
            floor(aggregate(slice(col("vs"), lit(2), size(col("vs")) - 1),
              element_at(col("vs"), 1),
              (acc, v) => acc * lit(0.5) + v) * 1e6 + 0.5)
              .cast("long").as("ewma_micros"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH o AS (
                SELECT user_id, event_id,
                  list(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id
                    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vs
                FROM events)
              SELECT user_id, event_id,
                CAST(FLOOR(list_reduce(vs, (a, b) -> a*0.5 + b)
                  * 1000000 + 0.5) AS BIGINT) AS ewma_micros
              FROM o ORDER BY user_id, event_id"""))
  )
}
