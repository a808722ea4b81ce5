package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.plans.Salt

/** Non-equi join operators: theta/range joins and as-of joins.
  *
  * The reference cannot join at all (single-input jobs,
  * reference mapreduce/submit.py:30-33); these complete the §2.4 join row.
  *
  * Scale notes:
  *  - range join: the tier side is tiny and broadcast, so the theta
  *    condition evaluates as BroadcastNestedLoopJoin — a single pass over
  *    the fact table, no shuffle;
  *  - as-of join: implemented with the union + window trick (tag both
  *    inputs, one shuffle on the key, one ordered pass filling the latest
  *    right-side row forward) — NEVER the naive key-join-then-max, whose
  *    intermediate is |left| × |right| per key.
  */
object Joins {

  /** Write `orders` and `customer` co-bucketed by customer key (8 buckets,
    * sorted within buckets) as external catalog tables under a per-process
    * scratch dir, and read them back. Shared by q_bucketed_join and the
    * PlanSpec exchange-free pin. Bucket metadata lives in the session
    * catalog — `spark.table` (not a bare parquet read, which would see
    * only files) is what lets the planner trust the co-partitioning.
    *
    * Table names carry the pid AND an md5 of the source dir (12 hex
    * chars — collision-proof where a 32-bit hashCode is not), so
    * concurrent sessions sharing a metastore never collide and a dir
    * switch never serves another dataset's buckets; the write is paid
    * ONCE per (process, dir) — bucketed storage is an amortized asset,
    * and repeat calls (bench iterations, downstream joins) go straight
    * to the catalog. CONTRACT: the data under `d` is immutable for the
    * process lifetime (the norm for curated parquet datasets) — a
    * pipeline that rewrites its inputs in place must drop the tables
    * first, as with any materialized asset. The table dirs live under
    * the JVM's [[Scratch]] root, removed at exit. */
  def bucketedOrdersCustomer(s: SparkSession, d: String):
      (DataFrame, DataFrame) = synchronized {
    // synchronized: concurrent Engine.submit-style callers in one JVM
    // must not race the tableExists check into a double bucketed write
    val tag = s"${ProcessHandle.current.pid}_" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8"))
        .take(6).map(b => f"$b%02x").mkString
    val base = Scratch.path(s"bucketed-$tag")
    val (tOrders, tCustomer) =
      (s"graft_orders_by_cust_$tag", s"graft_customer_by_cust_$tag")
    if (!s.catalog.tableExists(tOrders)) {
      Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").format("parquet")
        .option("path", s"$base/orders_by_cust")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(tOrders)
    }
    if (!s.catalog.tableExists(tCustomer)) {
      Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite").format("parquet")
        .option("path", s"$base/customer_by_cust")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(tCustomer)
    }
    (s.table(tOrders), s.table(tCustomer))
  }


  /** Generic as-of join: for each left row, the single latest right row
    * with the same key and right time ≤ (or <) left time.
    *
    * Both sides are tagged and unioned; a window ordered by (time, side)
    * carries the most recent right-side payload forward. One shuffle on
    * `key`, one sort — the canonical distributed as-of.
    *
    * @param strict   if true, right time must be strictly earlier; ties on
    *                 time are broken by `tiebreak` so strictness is total.
    */
  def asof(
      left: DataFrame, right: DataFrame,
      key: String, time: String, tiebreak: String,
      rightPayload: Seq[String],
      strict: Boolean): DataFrame = {
    // Typed struct payload: carried through the window as-is, fields read
    // back with `__match.<field>` — zero serde per row (an earlier JSON
    // string carry paid to_json + get_json_object on every row).
    val payloadType = right.select(rightPayload.map(col): _*).schema
    val l = left.withColumn("__side", lit(1))
      .withColumn("__payload", lit(null).cast(payloadType))
    val r = right
      .withColumn("__side", lit(0))
      .withColumn("__payload", struct(rightPayload.map(col): _*))
      .select(col(key), col(time), col(tiebreak), col("__side"),
        col("__payload"))
    val all = l.unionByName(r, allowMissingColumns = true)
    // Side priority sorts immediately after time (BEFORE the tiebreak, so
    // cross-side tiebreak values can't interleave): strict ⇒ left rows at
    // time t sort before right rows at t (the ≤ -1 frame then excludes
    // same-time right rows); non-strict ⇒ right rows at t sort first and
    // are visible. Tiebreak orders rows within (time, side) so the "last"
    // right row at a tied time is deterministic.
    val sideOrder: Column = if (strict) -col("__side") else col("__side")
    val w = Window.partitionBy(col(key))
      .orderBy(col(time), sideOrder, col(tiebreak))
      .rowsBetween(Window.unboundedPreceding, -1)
    all
      .withColumn("__match", last(
        when(col("__side") === 0, col("__payload")), ignoreNulls = true)
        .over(w))
      .filter(col("__side") === 1)
      .drop("__side", "__payload")
  }

  /** Nearest as-of join: for each left row, the single right row with the
    * same key whose time is CLOSEST to the left time within `toleranceUs`
    * microseconds of it — the bidirectional completion of [[asof]] (sensor
    * fusion, click↔purchase attribution, nearest-quote fills).
    *
    * Semantics: the backward candidate is the LATEST right row with
    * time ≤ t (ties on time → max tiebreak), the forward candidate the
    * EARLIEST with time ≥ t (ties → min tiebreak); the match is whichever
    * lies closer, ties at equal distance to the backward side, and null
    * when neither candidate is within tolerance.
    *
    * Shape: both sides union once and shuffle ONCE on `key`; the backward
    * arm is [[asof]]'s carry-forward window, the forward arm the mirrored
    * carry-backward window over the same partitioning (Spark reuses the
    * exchange; each window adds only a sort). Nothing joins all-pairs, so
    * tolerance does not affect cost — the canonical distributed nearest,
    * same scale story as the as-of.
    *
    * `time` must be a TimestampType column; distances are computed in
    * exact microsecond longs (`unix_micros`), so candidate choice never
    * touches a float.
    */
  def asofNearest(
      left: DataFrame, right: DataFrame,
      key: String, time: String, tiebreak: String,
      rightPayload: Seq[String],
      toleranceUs: Long): DataFrame = {
    val payloadCols = (Seq(time, tiebreak) ++ rightPayload).distinct
    val payloadType = right.select(payloadCols.map(col): _*).schema
    val l = left.withColumn("__side", lit(1))
      .withColumn("__payload", lit(null).cast(payloadType))
    val r = right
      .withColumn("__side", lit(0))
      .withColumn("__payload", struct(payloadCols.map(col): _*))
      .select(col(key), col(time), col(tiebreak), col("__side"),
        col("__payload"))
    val all = l.unionByName(r, allowMissingColumns = true)
    // backward: right rows at tied time sort BEFORE left (side 0 < 1), so
    // the ≤ −1 frame sees them; last() = max (time, tiebreak) right ≤ t
    val wb = Window.partitionBy(col(key))
      .orderBy(col(time), col("__side"), col(tiebreak))
      .rowsBetween(Window.unboundedPreceding, -1)
    // forward: right rows at tied time sort AFTER left (−side: 1 first),
    // so the ≥ +1 frame sees them; first() = min (time, tiebreak) right ≥ t
    val wf = Window.partitionBy(col(key))
      .orderBy(col(time), -col("__side"), col(tiebreak))
      .rowsBetween(1, Window.unboundedFollowing)
    val rp = when(col("__side") === 0, col("__payload"))
    val lt = unix_micros(col(time))
    val bOk = col("__b").isNotNull &&
      lt - unix_micros(col("__b")(time)) <= toleranceUs
    val fOk = col("__f").isNotNull &&
      unix_micros(col("__f")(time)) - lt <= toleranceUs
    all
      .withColumn("__b", last(rp, ignoreNulls = true).over(wb))
      .withColumn("__f", first(rp, ignoreNulls = true).over(wf))
      .filter(col("__side") === 1)
      .withColumn("__match",
        when(bOk && (!fOk ||
            lt - unix_micros(col("__b")(time)) <=
              unix_micros(col("__f")(time)) - lt), col("__b"))
          .when(fOk, col("__f")))
      .drop("__side", "__payload", "__b", "__f")
  }

  /** Bucketed interval join: pair each point with every interval that
    * contains it, planned as an EQUI-join.
    *
    * The broadcast theta join (q_join_range) needs the interval side tiny;
    * at 100 TB both sides can be large and BroadcastNestedLoopJoin is off
    * the table. Bucketing restores a hash-partitionable join: every
    * interval is replicated to each `bucketWidth`-sized bucket it overlaps
    * (`explode(sequence(...))`), every point belongs to exactly ONE
    * bucket, so each matching (point, interval) pair meets in exactly one
    * bucket — equi-join on the bucket plus the exact containment
    * predicate; no duplicates, no cartesian. Replication factor per
    * interval is length/bucketWidth + 1, so pick `bucketWidth` on the
    * order of the median interval length to keep it O(1). Point, lo and
    * hi must be INTEGRAL with hi exclusive (convert timestamps with
    * `unix_micros` first); empty intervals (hi ≤ lo) match nothing.
    *
    * Bucket ids are the bucket's lower bound computed in exact long
    * arithmetic (`c - pmod(c, w)`, then `sequence(..., step = w)`) —
    * never a floating division, so the pairing is exact over the FULL
    * long range (a `floor(col / w)` formulation loses bits past 2^53,
    * e.g. unix nanos, and can disagree between the point side and the
    * replicated interval side at bucket boundaries). `pmod` keeps the
    * floor semantics for negative values.
    */
  def intervalJoin(points: DataFrame, intervals: DataFrame,
      pointCol: String, loCol: String, hiCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    require(!(points.columns ++ intervals.columns).exists(
        c => c == "__pb" || c == "__ib"),
      "intervalJoin inputs must not already contain __pb/__ib columns")
    def requireIntegral(df: DataFrame, c: String): Unit = {
      import org.apache.spark.sql.types._
      val t = df.schema(c).dataType
      require(Seq[DataType](ByteType, ShortType, IntegerType, LongType)
          .contains(t),
        s"intervalJoin requires integral columns (exact bucketing); " +
          s"got $c: ${t.simpleString} — cast timestamps/doubles to long " +
          "(e.g. unix_micros) first")
    }
    requireIntegral(points, pointCol)
    requireIntegral(intervals, loCol)
    requireIntegral(intervals, hiCol)
    // exact long floor-to-bucket: lower bound of the containing bucket.
    // `l - pmod(l, w)` would overflow only for l within w of Long.MinValue
    // (pmod is non-negative); no real domain (timestamps, ids, offsets)
    // lives there, so guard loudly instead of silently mis-bucketing.
    def bucketStart(c: Column): Column = {
      val l = c.cast("long")
      when(l < Long.MinValue + bucketWidth,
        raise_error(format_string(
          s"intervalJoin: value %d underflows bucket arithmetic " +
            s"(width $bucketWidth)", l)))
        .otherwise(l - pmod(l, lit(bucketWidth)))
    }
    val p = points.withColumn("__pb", bucketStart(col(pointCol)))
    val iv = intervals.filter(col(hiCol) > col(loCol))
      .withColumn("__ib", explode(sequence(
        bucketStart(col(loCol)),
        bucketStart(col(hiCol).cast("long") - 1),
        lit(bucketWidth))))
    p.join(iv, p("__pb") === iv("__ib") &&
        p(pointCol) >= iv(loCol) && p(pointCol) < iv(hiCol))
      .drop("__pb", "__ib")
  }

  val queries: Seq[Q] = Seq(

    // ---- range (theta) join ----------------------------------------------
    // Price-tier classification via a broadcast interval dimension.
    Q("q_join_range",
      (s, d) => {
        val tiers = s.createDataFrame(Seq(
          ("small", 0.0, 50000.0),
          ("medium", 50000.0, 150000.0),
          ("large", 150000.0, 300000.0),
          ("jumbo", 300000.0, 1e18)))
          .toDF("tier", "lo", "hi")
        Tables(s, d, "orders")
          .join(broadcast(tiers),
            col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
          .groupBy("tier")
          .agg(count(lit(1)).as("n_orders"),
            Arith.dsum(col("o_totalprice")).as("total"))
          .orderBy("tier")
      },
      Some(s"""SELECT tier, COUNT(*) AS n_orders,
              ${Arith.sqlSum("o_totalprice")} AS total
              FROM orders
              JOIN (VALUES ('small',  0.0,      50000.0),
                           ('medium', 50000.0,  150000.0),
                           ('large',  150000.0, 300000.0),
                           ('jumbo',  300000.0, 1e18)) AS tiers(tier, lo, hi)
                ON o_totalprice >= lo AND o_totalprice < hi
              GROUP BY tier ORDER BY tier""")),

    // ---- bucketed interval join (the big-interval-side 100 TB path) ------
    // 40 OVERLAPPING analysis windows spanning the event corpus (each 2×
    // the stride, so every event falls in ~2 windows — deliberately not
    // expressible as a simple bucketing), joined via intervalJoin: the
    // plan is an equi-join on the time bucket, never a nested-loop over
    // points × intervals. Window bounds derive from an in-plan 1-row
    // min/max agg (no driver-side collect); bucketWidth = 1 day ≈ the
    // window stride at test scale.
    Q("q_join_interval",
      (s, d) => {
        val e = Tables(s, d, "events")
          .select(unix_micros(col("ts")).as("t"), col("value"))
        val iv = e.agg(min(col("t")).as("tmin"), max(col("t")).as("tmax"))
          .select(col("tmin"),
            greatest(((col("tmax") - col("tmin")) / 40).cast("long"), lit(1L))
              .as("w"))
          .select(col("tmin"), col("w"),
            explode(sequence(lit(0L), lit(39L))).as("interval_id"))
          .select(col("interval_id"),
            (col("tmin") + col("interval_id") * col("w")).as("lo"),
            (col("tmin") + (col("interval_id") + 2) * col("w")).as("hi"))
        intervalJoin(e, iv, "t", "lo", "hi", bucketWidth = 86400000000L)
          .groupBy("interval_id")
          .agg(count(lit(1)).as("n_events"),
            Arith.dsum(col("value")).as("total_value"))
          .orderBy("interval_id")
      },
      Some(s"""WITH b AS (
                SELECT min(epoch_us(ts)) AS tmin,
                       GREATEST((max(epoch_us(ts)) - min(epoch_us(ts))) // 40,
                                1) AS w
                FROM events),
              iv AS (
                SELECT i AS interval_id, tmin + i * w AS lo,
                       tmin + (i + 2) * w AS hi
                FROM b, range(0, 40) t(i))
              SELECT interval_id, COUNT(*) AS n_events,
                ${Arith.sqlSum("value")} AS total_value
              FROM iv JOIN events e
                ON epoch_us(e.ts) >= iv.lo AND epoch_us(e.ts) < iv.hi
              GROUP BY interval_id ORDER BY interval_id""")),

    // ---- as-of join ------------------------------------------------------
    // For each event: the user's most recent STRICTLY earlier event.
    // Self-as-of makes the oracle expressible as a plain lag() window,
    // while the engine path exercises the generic two-input asof operator.
    Q("q_join_asof",
      (s, d) => {
        val e = Tables(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
        val joined = asof(
          left = e, right = e,
          key = "user_id", time = "ts", tiebreak = "event_id",
          rightPayload = Seq("event_id"),
          strict = true)
        joined
          .withColumn("prev_event_id",
            col("__match.event_id").cast("long"))
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("prev_event_id"))
          .orderBy("user_id", "event_id")
      },
      // STRICT semantics, robust to same-timestamp ties: the RANGE frame
      // admits only strictly-earlier timestamps (a lag() would admit
      // same-ts rows with smaller event_id, diverging from the engine).
      // The (ts, event_id) tiebreak packs into one HUGEINT key; the 10^12
      // multiplier keeps it lexicographic while event_id < 10^12 (the id
      // is a row counter — 10^12 events is ~100 PB of this table, far
      // past the design point; a 10^6 multiplier would already break at
      // sf1) and the product ~1.8e27 sits well inside HUGEINT. arg_max
      // over a struct key would avoid the bound, but DuckDB 1.0's
      // arg_max does not accept struct ordering keys.
      Some("""SELECT user_id, event_id, event_type,
              arg_max(event_id,
                  epoch_us(CAST(ts AS TIMESTAMP))::HUGEINT * 1000000000000
                  + event_id)
                OVER (PARTITION BY user_id
                  ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                  RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS prev_event_id
              FROM events ORDER BY user_id, event_id""")),

    // ---- nearest as-of join ----------------------------------------------
    // Click→purchase attribution: for each click, the SAME USER's
    // purchase closest in time within ±24 h, whichever side it falls on
    // (ties to the earlier purchase). Exercises the bidirectional
    // [[asofNearest]] kernel on two genuinely distinct inputs; the
    // oracle is the brute-force per-pair argmin (fine at oracle scale),
    // while the engine path is the single-shuffle two-window form whose
    // cost is tolerance-independent. delta_us is the SIGNED purchase−click
    // distance in exact microseconds (negative = attributed backward).
    Q("q_join_asof_nearest",
      (s, d) => {
        val e = Tables(s, d, "events")
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        asofNearest(
          left = clicks, right = purchases,
          key = "user_id", time = "ts", tiebreak = "event_id",
          rightPayload = Seq("event_id"),
          toleranceUs = 24L * 3600 * 1000000)
          .select(col("user_id"), col("event_id").as("click_id"),
            col("__match.event_id").as("purchase_id"),
            (unix_micros(col("__match.ts")) - unix_micros(col("ts")))
              .as("delta_us"))
          .orderBy("user_id", "click_id")
      },
      Some("""WITH l AS (
                SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS lt,
                  event_id FROM events WHERE event_type = 'click'),
              r AS (
                SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS rt,
                  event_id FROM events WHERE event_type = 'purchase'),
              c AS (
                SELECT l.user_id, l.event_id AS click_id, l.lt,
                  r.event_id AS purchase_id, r.rt
                FROM l JOIN r ON l.user_id = r.user_id
                WHERE abs(r.rt - l.lt) <= 86400000000),
              pick AS (
                SELECT user_id, click_id, purchase_id, rt - lt AS delta_us,
                  row_number() OVER (PARTITION BY click_id ORDER BY
                    abs(rt - lt),
                    CASE WHEN rt <= lt THEN 0 ELSE 1 END,
                    CASE WHEN rt <= lt THEN -purchase_id
                         ELSE purchase_id END) AS rn
                FROM c)
              SELECT l.user_id, l.event_id AS click_id,
                pick.purchase_id, pick.delta_us
              FROM l LEFT JOIN pick
                ON pick.click_id = l.event_id AND pick.rn = 1
              ORDER BY l.user_id, click_id""")),

    // ---- bloom-filter runtime pre-filter join ----------------------------
    // The runtime-filter shape a 100 TB semi-join wants: build a Bloom
    // filter over the (filtered, small) build side, broadcast the sketch —
    // a few KB, not the key set — and pre-filter the probe scan with
    // might_contain BEFORE the shuffle/join. The exact semi-join then
    // removes bloom false positives, so output is EXACT (no false
    // negatives by construction) and the oracle is the plain IN-subquery.
    // At scale the bloom eliminates ~all non-matching probe rows at the
    // scan, shrinking the shuffle by the selectivity of the build side.
    Q("q_join_bloom",
      (s, d) => {
        // Catalyst requires the sketch operand of might_contain to be a
        // constant or scalar subquery — so this row runs as plain SQL over
        // temp views, which also exercises the graft_bloom_* registrations
        // through the SQL surface (the sketch subquery plans as a
        // ReusedSubquery broadcast, evaluated once)
        graft.functions.BloomFns.ensureRegistered(s)
        val customer = Tables(s, d, "customer")
        Tables(s, d, "orders").createOrReplaceTempView("bloom_orders")
        customer.createOrReplaceTempView("bloom_customer")
        // sketch sized from the FILTERED build side's Catalyst stats, not
        // a constant — items/bits track the build side's actual scale
        val (items, bits) = graft.functions.BloomFns.sketchSize(
          customer.filter(col("c_mktsegment") === "BUILDING")
            .select(col("c_custkey")))
        s.sql(s"""
          SELECT o_orderpriority, COUNT(*) AS n_orders,
            CAST(SUM(CAST(ROUND(o_totalprice, 6) AS DECIMAL(38,6))) AS DOUBLE)
              AS total
          FROM bloom_orders
          WHERE graft_bloom_contains(
              (SELECT graft_bloom_agg(CAST(c_custkey AS LONG),
                                      ${items}L, ${bits}L)
               FROM bloom_customer WHERE c_mktsegment = 'BUILDING'),
              CAST(o_custkey AS LONG))
            AND o_custkey IN (SELECT c_custkey FROM bloom_customer
                              WHERE c_mktsegment = 'BUILDING')
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
              ${Arith.sqlSum("o_totalprice")} AS total
              FROM orders WHERE o_custkey IN
                (SELECT c_custkey FROM customer
                 WHERE c_mktsegment = 'BUILDING')
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- co-bucketed storage join (the repeated-join 100 TB path) --------
    // bucketBy(8, custkey) on BOTH sides at write time pre-hashes the data
    // into co-located bucket files, so every subsequent join or aggregate
    // on the key plans with ZERO Exchange on either side (pinned in
    // PlanSpec) — the moral descendant of the reference's persistent
    // MD5-hash-partitioned intermediates (worker/__main__.py:105-117,
    // which partitioned once and re-read many times). Pay one shuffle at
    // write time, amortize it over every downstream join: at 100 TB a
    // fact-fact join between co-bucketed tables is scan + merge, no
    // network. The aggregate after the join still exchanges on the group
    // key — the pin is about the JOIN inputs.
    Q("q_bucketed_join",
      (s, d) => {
        val (o, c) = bucketedOrdersCustomer(s, d)
        o.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(c("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_orders"),
            Arith.dsum(col("o_totalprice")).as("total"))
          .orderBy("segment")
      },
      Some(s"""SELECT c_mktsegment AS segment, COUNT(*) AS n_orders,
              ${Arith.sqlSum("o_totalprice")} AS total
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY c_mktsegment ORDER BY segment""")),

    // ---- null-aware NOT IN anti-join --------------------------------------
    // NOT IN over a NULLABLE subquery is NOT the plain anti-join: one NULL
    // in the build side makes every `x NOT IN (...)` UNKNOWN — the query
    // legally returns zero rows. Catalyst must therefore plan a NULL-AWARE
    // anti join (single-column: broadcast + null check) instead of the
    // hash anti-join q_join_anti gets. The CASE below yields NULL only
    // for a segment that doesn't exist, so the RESULT equals the plain
    // anti-join while the PLAN still carries the null-aware machinery —
    // both engines implement the same three-valued rule, which is exactly
    // what the oracle pins.
    Q("q_join_notin",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("notin_orders")
        Tables(s, d, "customer").createOrReplaceTempView("notin_customer")
        s.sql(s"""
          SELECT o_orderpriority, COUNT(*) AS n_orders,
            CAST(SUM(CAST(ROUND(o_totalprice, 6) AS DECIMAL(38,6)))
              AS DOUBLE) AS total
          FROM notin_orders
          WHERE o_custkey NOT IN
            (SELECT CASE WHEN c_mktsegment = 'NO_SUCH_SEGMENT' THEN NULL
                         ELSE c_custkey END
             FROM notin_customer WHERE c_mktsegment = 'BUILDING')
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
              ${Arith.sqlSum("o_totalprice")} AS total
              FROM orders
              WHERE o_custkey NOT IN
                (SELECT CASE WHEN c_mktsegment = 'NO_SUCH_SEGMENT' THEN NULL
                             ELSE c_custkey END
                 FROM customer WHERE c_mktsegment = 'BUILDING')
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- correlated non-equi EXISTS ---------------------------------------
    // EXISTS whose correlation is an INEQUALITY (an urgent order bigger
    // than the customer's account balance) cannot hash-join: Catalyst
    // plans a broadcast nested-loop semi join — the correct shape when
    // the predicate has no equi component (with one, the planner hashes
    // on it and keeps the inequality as a residual). BNLJ is inherently
    // O(stream × build): the uncorrelated filter bounds the build side
    // here, and when the correlation is AGGREGATABLE (like this one — it
    // only depends on max(o_totalprice)) the production rewrite is a
    // 1-row scalar aggregate + filter, O(n); the row deliberately keeps
    // the general EXISTS form because that plan family is what it pins.
    Q("q_exists_correlated",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("ex_orders")
        Tables(s, d, "customer").createOrReplaceTempView("ex_customer")
        s.sql("""
          SELECT c_mktsegment, COUNT(*) AS n_customers
          FROM ex_customer c
          WHERE EXISTS (SELECT 1 FROM ex_orders o
                        WHERE o.o_orderpriority = '1-URGENT'
                          AND o.o_totalprice > c.c_acctbal * 100)
          GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_customers
              FROM customer c
              WHERE EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderpriority = '1-URGENT'
                              AND o.o_totalprice > c.c_acctbal * 100)
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- salted skew join ------------------------------------------------
    // plans/Salt.saltedJoin: the big side salts its join key, the small
    // side replicates per salt — a hot key spreads over `buckets` tasks
    // instead of one. Output is exactly the plain join's; the oracle IS
    // the plain join.
    Q("q_join_salted",
      (s, d) => Salt.saltedJoin(
          big = Tables(s, d, "lineitem"),
          small = Tables(s, d, "supplier"),
          bigKey = "l_suppkey", smallKey = "s_suppkey",
          saltFrom = hash(col("l_orderkey")), buckets = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"),
          Arith.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("s_nationkey"),
      Some(s"""SELECT s_nationkey, COUNT(*) AS n_items,
              ${Arith.sqlSum("l_quantity")} AS sum_qty
              FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
              GROUP BY s_nationkey ORDER BY s_nationkey"""))
  )
}
