package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Iterative graph analytics over edge lists — the third graph family
  * next to connected components (`Dedup.scala`, near-dup clustering) and
  * triangle counting (`q_triangles`).
  *
  * The reference has no graph surface; this is part of the
  * training-pipeline extension (document/link-graph importance scoring
  * is a standard corpus-curation signal — e.g. quality-weighting pages
  * by link centrality before sampling).
  *
  * Scale shape (100 TB design point): everything is edge-space joins and
  * partial-aggregated shuffles on node ids — node state (rank) is O(V),
  * edges O(E), and no step ever materializes anything denser. Each round
  * shuffles contributions on dst only after map-side partial aggregation,
  * and superseded round state is freed ([[Materialize.rounds]]) so pinned
  * executor memory stays O(1) across rounds, the same discipline as the
  * Lloyd/CC loops.
  */
object Graph {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** Fixed-iteration PageRank over a directed edge list `(src, dst)`.
    *
    * Damping 0.85, per-node teleport 0.15 (the unnormalized per-node
    * form: r = 0.15 + 0.85·Σ_in r/outdeg, fixed point ~1 per node).
    * Requires every node to appear as BOTH a source and a destination
    * (true for any symmetrized graph, like the bipartite one
    * q_pagerank builds) — nodes without out-edges would leak rank mass
    * and nodes without in-edges would fall out of the frame.
    *
    * Determinism across engines — fixed-point micro-rank units (1e-6),
    * the sqlCentroids convention, NOT `round(x, 6)`: Spark rounds the
    * exact decimal expansion of the double (BigDecimal HALF_UP) while
    * DuckDB rounds the scaled double, and the two disagree by 1 ulp
    * whenever a contribution lands within an ulp of a .5 boundary
    * (observed at sf0.01 on the very first top-20 row). Instead every
    * step is IEEE double arithmetic — bit-identical in any engine — with
    * an explicit `floor(x + 0.5)` half-up back to integer micro-units:
    * contribution = ⌊r_µ/outdeg + ½⌋, summed EXACTLY as longs
    * (order-independent, so partial aggregation across any executor
    * count gives one answer), update r_µ' = ⌊150000 + 0.85·Σ + ½⌋.
    * [[prRounds]] rounds in Spark and as many unrolled CTEs in DuckDB
    * agree on every digit and the driver hash-compares exactly.
    *
    * Returns (node STRING, r LONG) with r in micro-rank units.
    *
    * `onRound` is an instrumentation hook — called with (round, wall
    * seconds) after each round's eager checkpoint lands, so harnesses
    * (mode=graph) can pin per-round wall FLATNESS: the checkpoint/free
    * discipline means round k never re-evaluates rounds < k, and a
    * growing per-round wall would be the lineage-accretion bug this
    * loop is designed not to have. Noop by default.
    */
  def pagerank(s: SparkSession, edges0: DataFrame, iters: Int,
      onRound: (Int, Double) => Unit = (_, _) => ()): DataFrame = {
    // The (edge, outdeg) frame is loop-invariant — materialize it ONCE
    // with the degree already attached, so each round is a single join
    // against the current ranks instead of two (outdeg is a per-src
    // constant; attaching it before the loop changes no value).
    val edges = edges0.select("src", "dst").localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // repartitioned by the round-join key, then PERSISTED (not
    // localCheckpoint'd): InMemoryRelation preserves the cached plan's
    // outputPartitioning, so every round's join sees contrib already
    // hashpartitioned on src and only the O(V) ranks side exchanges —
    // without this the O(E) frame re-shuffled EVERY round (guide §2.4
    // "two operations keyed the same way can share one exchange"; at
    // ×100 the 10 rounds shuffled 16.7 GB, all but one round of it this
    // frame). A localCheckpoint would NOT do: Spark 4 materializes it as
    // a LogicalRDD with UnknownPartitioning, dropping exactly the
    // property this buys (PlanSpec pins the exchange-free contrib side).
    // Same durability class — both survive only as long as their
    // executors. The count() materializes contrib NOW so edges can be
    // freed; the unpersist after the loop is load-bearing: the bench
    // runs every query twice in one session, and a live CacheManager
    // entry would hand pass 2 pass 1's blocks (cross-run result caching).
    // Partition count is spark.sql.shuffle.partitions — the session's
    // scale knob, not a local constant.
    // persist, not a partitioned checkpoint: over 10 rounds the columnar
    // cache's faster reads beat a checkpoint's cheaper build (numbers in
    // BENCH_NOTES).
    val contrib = edges.join(deg, "src")
      .repartition(Materialize.shufflePartitions(s), col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    contrib.count()
    val first = Materialize.land(
      deg.select(col("src").as("node"), lit(1000000L).as("r")))
    Materialize.free(edges) // loop reads only contrib + ranks from here on
    val landed = Materialize.rounds(first, iters)(prRound(contrib, _))
    var ranks = first.df
    for (i <- 1 to iters) {
      val t0 = System.nanoTime()
      ranks = landed.next()
      onRound(i, (System.nanoTime() - t0) / 1e9)
    }
    Materialize.free(contrib)
    ranks
  }

  /** One PageRank round — the loop body of [[pagerank]]. The loop
    * checkpoints every round, so q_pagerank's final plan cannot show the
    * round join; PlanSpec pins it by planning this body directly.
    *
    * SHUFFLE_HASH on the O(V) ranks side: the default sort-merge join
    * re-SORTS the O(E) contrib frame every round — measured at ×100
    * (118M edges, mode=graph) that sort spilled 63 GB across the 10
    * rounds. Hash-building the per-partition V/P rank slice streams
    * contrib with no sort at all; the build side is the frame that
    * does NOT grow with |E|, and P scales with the corpus, so the
    * per-task build stays bounded at any SF. */
  private[graft] def prRound(contrib: DataFrame,
      ranks: DataFrame): DataFrame = contrib
    .join(ranks.withColumnRenamed("node", "src").hint("shuffle_hash"),
      "src")
    .select(col("dst"),
      floor(col("r").cast("double") / col("outdeg") + lit(0.5))
        .cast("long").as("w"))
    .groupBy("dst")
    .agg(sum(col("w")).as("acc"))
    .select(col("dst").as("node"),
      floor(lit(150000.0) + lit(0.85) * col("acc").cast("double") +
        lit(0.5)).cast("long").as("r"))

  /** One DuckDB PageRank round as CTE text — the oracle twin of the loop
    * body in [[pagerank]], kept adjacent so they can't drift. */
  private def sqlPrRound(i: Int): String = {
    val prev = if (i == 1) "r0" else s"r${i - 1}"
    s"""r$i AS (
          SELECT e.dst AS node,
            CAST(FLOOR(150000 + 0.85 * CAST(SUM(CAST(FLOOR(
                CAST(r.r AS DOUBLE) / d.outdeg + 0.5) AS BIGINT))
              AS DOUBLE) + 0.5) AS BIGINT) AS r
          FROM edges e
          JOIN $prev r ON e.src = r.node
          JOIN deg d ON e.src = d.src
          GROUP BY e.dst)"""
  }

  /** Round count for q_pagerank — shared by the Spark loop and the
    * generated oracle CTE chain so the two can't drift. 10 rounds (up
    * from the original 3): per-round cost is FLAT — the loop
    * localCheckpoints each rank frame and frees its predecessor, so no
    * round ever re-evaluates an earlier one (the q_bpe_merges lesson),
    * and 10 damped rounds reach the usual convergence regime instead of
    * an oracle-tractability compromise. */
  private[graft] val prRounds = 10

  /** The distinct customer–supplier trading pairs behind q_pagerank's
    * graph (an edge per distinct trading relationship from
    * lineitem⋈orders), factored out of the registration so the
    * mode=graph stress tier runs pagerank on a ×copies blow-up of the
    * EXACT registered graph, not a lookalike. Directed c:→s:;
    * symmetrize before [[pagerank]]. */
  private[graft] def tradingPairs(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").select("l_orderkey", "l_suppkey")
      .join(t(s, d, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        concat(lit("c:"), col("o_custkey").cast("string")).as("src"),
        concat(lit("s:"), col("l_suppkey").cast("string")).as("dst"))
      .distinct()

  /** Numeric twin of [[tradingPairs]] for graph ops whose semantics
    * order node ids (LPA's smallest-label tie-break needs `<` on
    * labels, and string order over "c:10" vs "c:9" inverts numeric
    * order): customer c ↦ 2c, supplier s ↦ 2s+1 — injective and
    * disjoint. */
  private[graft] def tradingPairsNumeric(s: SparkSession,
      d: String): DataFrame =
    t(s, d, "lineitem").select("l_orderkey", "l_suppkey")
      .join(t(s, d, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("a_id"),
        (col("l_suppkey") * 2 + 1).as("b_id"))
      .distinct()

  val queries: Seq[Q] = Seq(

    // Link-importance scoring on the bipartite customer–supplier graph
    // (an edge per distinct trading pair from lineitem⋈orders,
    // symmetrized): prRounds PageRank rounds, top-20 nodes. The fact-fact
    // join shuffles on orderkey once to build the edge list; every round
    // after that touches only O(E) edge rows and O(V) rank rows.
    Q("q_pagerank",
      (s, d) => {
        val pairs = tradingPairs(s, d)
        val edges = pairs.union(
          pairs.select(col("dst").as("src"), col("src").as("dst")))
        pagerank(s, edges, prRounds)
          .select(col("node"),
            (col("r").cast("double") / lit(1000000.0)).as("rank"))
          .orderBy(col("rank").desc, col("node"))
          .limit(20)
      },
      Some(s"""WITH pairs AS (
                SELECT DISTINCT 'c:' || o_custkey AS src,
                                's:' || l_suppkey AS dst
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              edges AS (
                SELECT src, dst FROM pairs
                UNION ALL
                SELECT dst AS src, src AS dst FROM pairs),
              deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
              r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r
                     FROM deg),
              ${(1 to prRounds).map(sqlPrRound).mkString(",\n")}
              SELECT node, CAST(r AS DOUBLE) / 1000000.0 AS rank
              FROM r$prRounds
              ORDER BY rank DESC, node LIMIT 20"""))
  )
}
