package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.{CosineSim, DotProduct, VecCentroid}
import Arith._

/** Similarity search over `embeddings` (vec_id, embedding ArrayType(Float),
  * label).
  *
  * No analog exists in the reference (strings only); this is the
  * LLM-pipeline extension surface (SURVEY.md §2.4 last row). All vector
  * math runs in native kernels (the CosineSim codegen expression, typed
  * mapPartitions loops) in double precision, accumulating left-to-right — the
  * same order DuckDB's list functions use, so cosines round-trip exactly
  * at 6 decimals for the oracle compare.
  *
  * Scale shapes (100 TB / billions of vectors):
  *  - q_cosine_pairs: EXACT similarity join — broadcast one side, stream
  *    the other, native dot-product kernel. A 0.45 cosine threshold is a
  *    63° angle, beyond any LSH family's usable recall, so exact is the
  *    correct engine path; above ~1 M vectors the same kernel runs per
  *    block pair (distributed blocked GEMM).
  *  - q_ann_topk: the brute-force baseline — ONE scan of the corpus against
  *    a broadcast query set, per-partition top-k then global top-k.
  *  - q_ann_ivf: the indexed path — vectors bucketed by nearest centroid
  *    (broadcast centroids), queries probe the 2 nearest buckets only.
  */
object Similarity {

  private def embs(s: SparkSession, d: String) = Tables(s, d, "embeddings")

  /** Upper-triangle population covariance of the embedding corpus as
    * (i, j, cov_micros) rows — the distributed-PCA reduction shared by
    * q_pca_cov and q_pca_power. Exactness recipe, mirrored verbatim in
    * [[covSqlCtes]]:
    *  - per-dimension means in MICRO-LONG fixed point: floor of the exact
    *    long-sum quotient (sum ≤ 1e15 « 2^53, so the double division is
    *    IEEE-exact-rounded identically on both engines and the floor is
    *    deterministic — no ROUND() half-mode exposure anywhere in the
    *    path), collapsed to ONE broadcast array row;
    *  - per-row centering as an exact integer difference of micro longs
    *    (quantize x first, then subtract the micro mean), so every pair
    *    term is an exact 64-bit integer product (|x| < 1 ⇒ |cm| < 2e6 ⇒
    *    product < 4e12, far under 2^63) and the sums are
    *    order-independent DECIMAL(38,0) integer sums — no per-term double
    *    rounding at all;
    *  - the d² pair expansion is a chained posexplode whose second
    *    generator runs on the SLICED tail (j ≥ i), so only the upper
    *    triangle is ever produced, and the blowup stays pipeline-local
    *    (scan → explode → partial hash-agg in one codegen stage): only
    *    2080 running sums per task reach the shuffle at any corpus size.
    */
  private def covUpper(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    val e = embs(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val u = e.select(col("vec_id"),
        posexplode(col("v")).as(Seq("p0", "x")))
      .select((col("p0") + 1).cast("long").as("i"), col("x"))
    val means = u.groupBy("i")
      .agg(floor(sum(floor(col("x") * 1e6 + 0.5).cast("long"))
        .cast("double") / count(lit(1))).cast("long").as("mu"))
    val meansRow = means
      .agg(sort_array(collect_list(struct(col("i"), col("mu")))).as("ms"))
      .select(transform(col("ms"), m => m("mu")).as("mus"))
    val nRow = e.agg(count(lit(1)).as("n"))
    e.crossJoin(broadcast(meansRow))
      .select(zip_with(col("v"), col("mus"),
        (x, mu) => floor(x * 1e6 + 0.5).cast("long") - mu).as("cm"))
      .select(posexplode(col("cm")).as(Seq("p0", "ci")), col("cm"))
      .select(col("p0"), col("ci"),
        posexplode(slice(col("cm"), col("p0") + 1, lit(dim) - col("p0")))
          .as(Seq("q0", "cj")))
      .select((col("p0") + 1).cast("long").as("i"),
        (col("p0") + 1 + col("q0")).cast("long").as("j"),
        (col("ci") * col("cj")).as("t"))
      .groupBy("i", "j")
      .agg(sum(col("t").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("sp"))
      .crossJoin(broadcast(nRow))
      .select(col("i"), col("j"),
        floor(col("sp").cast("double") / (col("n") * 1e6) + 0.5)
          .cast("long").as("cov_micros"))
  }

  /** One power-iteration matvec in micro² integer units: S_i = Σ_j
    * covm_ij · xm_j, exact (the first half of [[pcaPowerRound]]). */
  private[graft] def pcaMatvec(s: SparkSession, covF: DataFrame,
      v: DataFrame): DataFrame =
    covF.join(v, "j").groupBy("i")
      .agg(sum((col("cov_micros") * col("xm"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("sp"))
      .select(col("i"), col("sp").cast("double").as("y"))

  /** One full power-iteration round: matvec + L2 renormalize back to
    * micro longs. The norm is a GLOBAL WINDOW over the d-row matvec frame
    * — same order-independent decimal sum as dsum (y are integers-as-
    * doubles, so round6 is the identity), but it references mv exactly
    * ONCE, which is what lets q_pca_power's 10 rounds compose into a
    * single lazy plan (a norm that referenced mv twice would double the
    * plan per round; PlanSpec pins the linear growth). d is
    * config-bounded (64 here, 4096 in the scaled regime), so the
    * single-partition window task holds d rows, never data. */
  private[graft] def pcaPowerRound(s: SparkSession, covF: DataFrame,
      v: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    pcaMatvec(s, covF, v)
      .withColumn("nn", sqrt(sum(round(col("y") * col("y"), 6)
        .cast("decimal(38,6)")).over(w).cast("double")))
      .select(col("i").as("j"),
        floor(col("y") / col("nn") * 1e6 + 0.5).cast("long").as("xm"))
  }

  /** DuckDB CTE chain ending in `cov(i, j, cov_micros)` — the oracle twin
    * of [[covUpper]], shared by the q_pca_cov and q_pca_power oracles. */
  private val covSqlCtes: String =
    """u AS (
         SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
         FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)),
       m AS (
         SELECT i,
           CAST(FLOOR(SUM(CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT))::DOUBLE
             / COUNT(*)) AS BIGINT) AS mu
         FROM u GROUP BY i),
       cen AS (
         SELECT u.vec_id, u.i,
           CAST(FLOOR(u.x * 1000000 + 0.5) AS BIGINT) - m.mu AS cm
         FROM u JOIN m USING (i)),
       nn AS (SELECT COUNT(*) AS n FROM embeddings),
       cov AS (
         SELECT a.i, b.i AS j,
           CAST(FLOOR(
             CAST(SUM(CAST(a.cm * b.cm AS DECIMAL(38,0))) AS DOUBLE)
               / ((SELECT n FROM nn) * 1000000.0) + 0.5)
             AS BIGINT) AS cov_micros
         FROM cen a JOIN cen b ON a.vec_id = b.vec_id AND b.i >= a.i
         GROUP BY a.i, b.i)"""

  /** Generated oracle for q_pca_power: the [[covSqlCtes]] covariance,
    * mirrored to the full matrix, then 10 unrolled matvec+requantize
    * rounds in exact micro-integer arithmetic (matching the Spark side
    * term for term), ending in the micro eigenvector and Rayleigh-
    * quotient eigenvalue. CTEs are MATERIALIZED: DuckDB inlines by
    * default, and each round references its predecessor twice, which
    * would otherwise double the plan per round. */
  private def pcaPowerOracleSql: String = {
    val rounds = (1 to 10).map { k =>
      s"""mv$k AS MATERIALIZED (
           SELECT f.i,
             CAST(SUM(CAST(f.cov_micros * v${k - 1}.xm
               AS DECIMAL(38,0))) AS DOUBLE) AS y
           FROM covf f JOIN v${k - 1} ON f.j = v${k - 1}.j GROUP BY f.i),
         nr$k AS MATERIALIZED (
           SELECT sqrt(CAST(SUM(CAST(ROUND(y * y, 6) AS DECIMAL(38,6)))
             AS DOUBLE)) AS nn FROM mv$k),
         v$k AS MATERIALIZED (
           SELECT i AS j,
             CAST(FLOOR(y / (SELECT nn FROM nr$k) * 1000000 + 0.5)
               AS BIGINT) AS xm
           FROM mv$k)"""
    }.mkString(",\n")
    s"""WITH $covSqlCtes,
        covf AS MATERIALIZED (
          SELECT i, j, cov_micros FROM cov
          UNION ALL
          SELECT j AS i, i AS j, cov_micros FROM cov WHERE i <> j),
        v0 AS (SELECT DISTINCT i AS j, CAST(125000 AS BIGINT) AS xm
               FROM covf),
        $rounds,
        mv11 AS MATERIALIZED (
          SELECT f.i,
            CAST(SUM(CAST(f.cov_micros * v10.xm AS DECIMAL(38,0)))
              AS DOUBLE) AS y
          FROM covf f JOIN v10 ON f.j = v10.j GROUP BY f.i),
        lam AS (
          SELECT CAST(FLOOR(
            CAST(SUM(CAST(v.xm AS DECIMAL(18,0))
                   * CAST(CAST(mv11.y AS BIGINT) AS DECIMAL(18,0)))
              AS DOUBLE) / 1000000000000.0 + 0.5) AS BIGINT) AS eig_micros
          FROM mv11 JOIN (SELECT j AS i, xm FROM v10) v USING (i))
        SELECT v10.j AS i, v10.xm AS x_micros,
          (SELECT eig_micros FROM lam) AS eig_micros
        FROM v10 ORDER BY i"""
  }


  private def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0d), (acc, x) => acc + x))

  /** Codegen'd native cosine (graft.functions.CosineSim) — same
    * left-to-right double accumulation as the HOF formulation and DuckDB's
    * list functions — quantized to 6 decimals as floor(x·1e6 + ½)/1e6:
    * one IEEE expression both engines evaluate bit-identically on the
    * BINARY value. round(x, 6) is NOT that — Spark rounds the shortest
    * decimal rendering while DuckDB rounds the binary value, and the two
    * disagree on .xxxxxx5-boundary cosines (the exact half-mode
    * divergence that bit the MMR row in r11; this helper migrated in
    * r12 so every cosine consumer is boundary-proof, not observed-green). */
  private[graft] def cosine(s: SparkSession, a: Column, b: Column): Column =
    floor(CosineSim(s, a, b) * 1e6 + 0.5) / 1e6

  /** DuckDB-side cosine over two list-column expressions, same accumulation
    * order and quantization as [[cosine]]. */
  private[operators] def sqlCosineCols(a: String, b: String): String =
    s"""(CAST(FLOOR(list_sum([$a[i] * $b[i] FOR i IN generate_series(1, 64)]) /
       (sqrt(list_sum([x * x FOR x IN $a])) *
        sqrt(list_sum([x * x FOR x IN $b]))) * 1000000 + 0.5) AS BIGINT)
       / 1000000.0)"""

  /** DuckDB-side cosine between `<alias>.v` columns. */
  private def sqlCosine(a: String, b: String): String =
    sqlCosineCols(s"$a.v", s"$b.v")

  /** The exact cosine-pair oracle, shared VERBATIM by q_cosine_pairs and
    * q_cosine_pairs_gemm: the two rows are the broadcast and blocked arms
    * of the SAME join, so a single string keeps their correctness bars
    * from drifting apart under a future threshold/rounding edit. */
  private val cosinePairsOracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          ${sqlCosine("a", "b")} AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE ${sqlCosine("a", "b")} >= 0.45
        ORDER BY a_id, b_id"""

  /** Exact cosine similarity join for corpora too large to broadcast: a
    * distributed blocked GEMM. Vectors hash into `blocks` buckets; every
    * block PAIR (b_a ≤ b_b) becomes one task via an RDD cartesian of the
    * bucketed sides, and the native kernel scans the pair. Total work is
    * identical to the broadcast path (n²/2 dot products); the difference is
    * that no single task or executor ever needs the whole corpus —
    * memory per task is 2·(n/blocks) vectors, tasks = blocks·(blocks+1)/2.
    */
  def blockedCosineJoin(
      s: SparkSession, df: DataFrame, threshold: Double,
      blocks: Int): DataFrame = {
    import s.implicits._
    // a null id or vector has no pair; the broadcast arm's join and norm
    // filter drop such rows, and the tuple decoder below would throw
    val vecs = df.select(col("vec_id"), col("embedding"))
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .as[(Long, Array[Float])].rdd
    blockedPairs(vecs, threshold, blocks).toDF("a_id", "b_id", "cos")
  }

  /** Core of [[blockedCosineJoin]] on a raw vector RDD. Zero-norm
    * vectors have no defined cosine and are dropped, as on the broadcast
    * arm of [[cosinePairs]], so the arms agree. Cosines quantize as
    * floor(x·1e6 + ½)/1e6, the cross-engine form cosine() uses. */
  def blockedPairs(
      vecs: org.apache.spark.rdd.RDD[(Long, Array[Float])],
      threshold: Double,
      blocks: Int): org.apache.spark.rdd.RDD[(Long, Long, Double)] = {
    val bucketed = vecs
      // floorMod: a plain % would hand a negative vec_id a NEGATIVE
      // bucket, outside the 0..blocks-1 pair grid below — the broadcast
      // arm has no such id dependence, and the two paths must agree.
      // The norm is precomputed ONCE per vector here (not per pair): the
      // accumulation order matches CosineSim exactly (Σ v(k)² ascending,
      // then sqrt), so dot/(sa·sb) below is bit-identical to the
      // expression's dot/(sqrt(na)·sqrt(nb)) while cutting the per-pair
      // inner loop from 3 multiply-adds per element to 1.
      .map { case (id, v) =>
        var na = 0.0
        var k = 0
        while (k < v.length) { na += v(k).toDouble * v(k); k += 1 }
        (math.floorMod(id, blocks.toLong).toInt, (id, v, math.sqrt(na)))
      }
      .groupByKey(blocks)
      .mapValues(_.toArray.sortBy(_._1))
    // The upper-triangle pair grid (ba ≤ bb) is built EXPLICITLY instead
    // of filtering a full cartesian: the cartesian schedules blocks² tasks
    // and ships both blocks into each, with the ba > bb half dropped by
    // the first filter — ~2× the task-scheduling and block-replication
    // cost for zero compute. Keying each (ba, bb) pair and joining the
    // block arrays in ships each block ~blocks copies total (vs 2·blocks
    // under cartesian) and schedules only blocks·(blocks+1)/2 pair groups.
    // The grid itself is generated DISTRIBUTED (flatMap over the block
    // ids, never an O(blocks²) driver-side sequence), pair count stays in
    // Long (blocks ≈ 65k — a 4 TB corpus — overflows the Int triangle
    // number), and the join's partition count is capped: past the cap
    // each task just processes several independent pair groups.
    val nPairs = blocks.toLong * (blocks + 1) / 2
    val pairParts = math.min(nPairs, 65536L).toInt.max(1)
    val pairIdx = vecs.sparkContext
      .parallelize(0 until blocks, math.max(1, math.min(blocks, 1024)))
      .flatMap(a => Iterator.range(a, blocks).map(b => (a, b)))
    pairIdx.join(bucketed, blocks)    // (ba, (bb, as))
      .map { case (ba, (bb, as)) => (bb, (ba, as)) }
      .join(bucketed, pairParts)      // (bb, ((ba, as), bs))
      .map { case (bb, ((ba, as), bs)) => ((ba, as), (bb, bs)) }
      .flatMap { case ((ba, as), (bb, bs)) =>
        for {
          (aId, av, sa) <- as.iterator
          (bId, bv, sb) <- bs.iterator
          // same block: each unordered pair appears twice — keep aId < bId;
          // cross block: exactly once, any id order — keep all
          if ba < bb || aId < bId
          r = {
            var dot = 0.0; var k = 0
            while (k < av.length) { dot += av(k).toDouble * bv(k); k += 1 }
            // zero-norm vector ⇒ no defined cosine: a sentinel that the
            // threshold filter drops
            if (sa == 0.0 || sb == 0.0) Double.NegativeInfinity
            else {
              val raw = dot / (sa * sb)
              // floor(x·1e6 + ½)/1e6 — the same IEEE quantization as the
              // declarative arms' cosine() and DuckDB's FLOOR formula, so
              // all three paths are bit-identical INCLUDING on
              // .xxxxxx5-boundary cosines (BigDecimal HALF_UP here would
              // reproduce Spark's old shortest-decimal round(x,6), which
              // DuckDB disagrees with at the boundary). Quantization
              // moves a value up by at most 5e-7, so a raw cosine more
              // than 1e-6 below the threshold can never reach it — skip
              // the quantization for ~all of the n²/2 pairs that lose.
              if (raw < threshold - 1e-6) Double.NegativeInfinity
              else math.floor(raw * 1e6 + 0.5) / 1e6
            }
          }
          if r >= threshold
        } yield (math.min(aId, bId), math.max(aId, bId), r)
      }
  }

  /** Corpora whose Catalyst size estimate is under this broadcast whole;
    * above it the blocked GEMM runs. 64 MB ≈ 250k 64-dim float vectors —
    * comfortably inside executor broadcast budgets. */
  val MaxBroadcastBytes: Long = 64L << 20

  /** Per-block byte CAP for [[blockedCosineJoin]] auto-sizing: each pair
    * task holds two blocks ⇒ ≤ 512 MB peak per task — a cap, not a
    * target. The r13 sizing targeted 64 MB blocks exactly, which made
    * `blocks ∝ corpus bytes ∝ rows·dim` and therefore pair TASKS ∝ dim²
    * at fixed rows (measured 36 → 8,256 tasks for 64d → 1024d): per-task
    * bytes stayed flat while per-task COMPUTE shrank ∝ 1/dim, so at
    * production dim the job was pure scheduling constant. A fixed byte
    * cap forces tasks ∝ (rows·dim)² asymptotically — that floor is
    * information-theoretic for a row-hash tiling (per-task bytes B and
    * task count T satisfy B²·T = 32·(rows·dim·4)², and dim-slicing
    * instead would shuffle one partial dot per PAIR, n²-sized traffic
    * the threshold filter cannot prune) — so the cap is set where the
    * memory floor rarely binds and the parallelism floor governs. */
  val MaxBlockBytes: Long = 256L << 20

  /** Block count for the blocked GEMM at a Catalyst size estimate:
    * max(memory floor, parallelism floor) clamped to [2, 2^16].
    *
    *  - memory floor: ceil(bytes / MaxBlockBytes) — each task holds two
    *    blocks, so per-task peak stays ≤ 2·MaxBlockBytes of RAW block
    *    data no matter the corpus (measured task peak runs ~2× that —
    *    the blocks deserialize to tuple arrays with JVM object overhead
    *    while their serialized copies are still in the fetch buffers —
    *    a constant of the JVM, still corpus-row-independent; the
    *    embeddim scale laws pin 4·MaxBlockBytes). Clamps are load-bearing: Catalyst's unknown-stats default
    *    is Long.MaxValue — a truncating .toInt there yields 0, i.e. TWO
    *    blocks of half the corpus each, an OOM at exactly the scale the
    *    dispatch exists to survive — and past 2^16 blocks the pair-grid
    *    size would dominate, so tasks hold proportionally more instead.
    *  - parallelism floor: the smallest b with b·(b+1)/2 ≥ cluster
    *    parallelism, so the pair grid can occupy every core. This floor
    *    is DIM-INDEPENDENT: at fixed rows, widening the vectors leaves
    *    the block count (and so the task count) unchanged until the
    *    memory floor genuinely binds — per-task bytes grow ∝ dim within
    *    the cap, per-task compute grows ∝ dim, wall ∝ dim. Under the r13
    *    64 MB-target rule the same widening multiplied the TASK count by
    *    dim² with no compute to amortize it (`BENCH_NOTES.md` embeddim).
    */
  def blocksFor(bytes: BigInt, parallelism: Int): Int = {
    val mem = (bytes - 1) / MaxBlockBytes + 1
    val par = BigInt(math.ceil(math.sqrt(2.0 * math.max(parallelism, 1))).toLong)
    mem.max(par).max(BigInt(2)).min(BigInt(1 << 16)).toInt
  }

  /** Exact cosine similarity join with NO driver-side collect: dispatches
    * on Catalyst's own size estimate (plan statistics — no job runs).
    * Small corpora go through a BroadcastNestedLoopJoin with the codegen
    * CosineSim kernel (Spark manages the broadcast); larger ones run the
    * distributed blocked GEMM. Both paths round to 6 decimals BEFORE the
    * threshold filter, so results are bit-identical (SimilaritySpec).
    */
  def cosinePairs(s: SparkSession, e: DataFrame, threshold: Double,
      maxBroadcastBytes: Long = MaxBroadcastBytes): DataFrame = {
    val bytes = e.queryExecution.optimizedPlan.stats.sizeInBytes
    val pairs =
      if (bytes <= maxBroadcastBytes) {
        // norms are loop-invariant per row: precompute sqrt(dot(v,v)) once
        // per row so each of the n²/2 pairs pays ONE dot loop, not three.
        // Bit-identical to cosine() (floor(x·1e6+½)/1e6 on the same
        // accumulation order, same sqrt(na)*sqrt(nb) product). Zero-norm
        // vectors have no defined cosine and are dropped HERE — the
        // guard is LOAD-BEARING for oracle parity: a NaN through Spark's
        // floor() becomes 0L → 0.0 (floor of a double is a long cast),
        // while DuckDB's CAST(FLOOR(NaN) AS BIGINT) raises a conversion
        // error outright (and the blocked path sentinels the same case).
        def side(idName: String, vName: String, nName: String) = e.select(
          col("vec_id").as(idName), col("embedding").as(vName),
          sqrt(DotProduct(s, col("embedding"), col("embedding"))).as(nName))
          .filter(col(nName) > 0.0)
        // a small corpus arrives as ONE file split; the n²/2 pair loop is
        // the cost, so spread the probe side across every core — at scale
        // the probe side is many splits and this exchange disappears
        val a = side("a_id", "a_v", "a_norm")
          .repartition(s.sparkContext.defaultParallelism)
        val b = side("b_id", "b_v", "b_norm")
        a.join(broadcast(b), col("a_id") < col("b_id"))
          .withColumn("cos", floor(
            DotProduct(s, col("a_v"), col("b_v")) /
              (col("a_norm") * col("b_norm")) * 1e6 + 0.5) / 1e6)
          .filter(col("cos") >= threshold)
          .select("a_id", "b_id", "cos")
      } else {
        blockedCosineJoin(s, e, threshold,
          blocksFor(bytes, s.sparkContext.defaultParallelism))
      }
    // unordered: pair sets feed clustering/stats; callers needing a
    // deterministic order (the oracle row) sort at the call site
    pairs
  }

  /** Drop zero-norm vectors: they have no defined cosine — CosineSim
    * returns NaN, and Spark's NaN-is-largest comparison would pass NaN
    * through any threshold the SQL oracle's NULL fails. Every cosine
    * consumer (cosinePairs, ivfAssign-based paths) must exclude them
    * before the kernel. */
  def dropZeroNorm(s: SparkSession, e: DataFrame): DataFrame =
    e.filter(DotProduct(s, col("embedding"), col("embedding")) > 0.0)

  /** Banded sign-LSH signatures against an arbitrary (h_id, h_v) plane
    * set — the core of [[seededHyperplaneBands]]. Bit i of a vector's
    * signature is `sign(dot(v, h_i))` (Charikar's SimHash for cosine
    * space, STOC'02), and the `nPlanes` bits split into
    * `nPlanes / bandBits` bands — two vectors are LSH candidates iff they
    * agree on EVERY bit of at least one band, so candidate generation is
    * an equi-join on (band_idx, band_key), never an all-pairs scan.
    *
    * Scale shape: one broadcast of the planes, one map-side
    * partial-aggregated groupBy packing bits into band keys (nPlanes rows
    * in flight per vector, ~(vec_id, 2 longs) out), then `posexplode` to
    * (vec_id, band_idx, band_key) — n·nBands rows, each a few bytes plus
    * the carried embedding. The bit weight is `shiftleft(1L, h_id mod
    * bandBits)` — exact long arithmetic, no float powers.
    */
  private def bandsOf(s: SparkSession, e: DataFrame, planes: DataFrame,
      nPlanes: Int, bandBits: Int): DataFrame = {
    require(nPlanes > 0 && bandBits > 0 && nPlanes % bandBits == 0,
      s"nPlanes ($nPlanes) must be a positive multiple of bandBits ($bandBits)")
    val nBands = nPlanes / bandBits
    val bandCols = (0 until nBands).map { bi =>
      sum(when(col("band_of") === bi, col("bit") * col("weight"))
        .otherwise(0L)).as(s"__band$bi")
    }
    e.crossJoin(broadcast(planes))
      .withColumn("bit",
        (DotProduct(s, col("embedding"), col("h_v")) >= 0.0).cast("long"))
      .withColumn("band_of", expr(s"CAST(h_id DIV $bandBits AS INT)"))
      .withColumn("weight",
        expr(s"shiftleft(1L, CAST(h_id % $bandBits AS INT))"))
      .groupBy("vec_id")
      .agg(first(col("embedding")).as("embedding"), bandCols: _*)
      .select(col("vec_id") +: col("embedding") +:
        Seq(posexplode(array((0 until nBands).map(bi =>
          col(s"__band$bi")): _*)).as(Seq("band_idx", "band_key"))): _*)
  }

  /** Deterministic seeded pseudo-Gaussian hyperplanes — DATA-INDEPENDENT
    * random planes (corpus-vector planes would not do: corpus vectors are
    * not mean-centered, so their sign bits correlate for clustered
    * corpora and recall falls below the Charikar bound).
    *
    * Component i of plane p is an Irwin–Hall(8) sample centered at 0: the
    * 32 hex chars of md5("<seed>_p_i") split into 8 4-char chunks, each an
    * integer v_k ∈ [0, 65535]; g = Σ v_k/65536 − 4 ≈ N(0, 8/12). Every
    * term is an exact dyadic rational (denominator 2^16), so the sum is
    * BIT-EXACT in both engines — no transcendentals (a Box–Muller ln/cos
    * could differ by an ulp between the JVM and DuckDB's libm and flip a
    * rounded value), hence an exact SQL oracle ([[sqlSeededPlanes]]). For
    * sign LSH only the plane's direction matters, so the missing
    * √(12/8) variance normalization is irrelevant.
    */
  def seededPlanes(s: SparkSession, seed: String, nPlanes: Int,
      dims: Int = 64): DataFrame =
    s.range(nPlanes).select(col("id").as("h_id"),
      transform(sequence(lit(1), lit(dims)), i =>
        aggregate(sequence(lit(0), lit(7)), lit(0.0d), (acc, k) =>
          acc + conv(substr(
            md5(concat_ws("_", lit(seed), col("id").cast("string"),
              i.cast("string"))), k * 4 + 1, lit(4)), 16, 10)
            .cast("double") / 65536.0d) - lit(4.0d)).as("h_v"))

  /** Banded sign-LSH signatures over [[seededPlanes]]. `e` must carry
    * (vec_id, embedding). @return (vec_id, embedding, band_idx,
    * band_key) */
  def seededHyperplaneBands(s: SparkSession, e: DataFrame, seed: String,
      nPlanes: Int, bandBits: Int, dims: Int = 64): DataFrame =
    bandsOf(s, e, seededPlanes(s, seed, nPlanes, dims), nPlanes, bandBits)

  /** DuckDB twin of [[seededPlanes]] as a CTE: defines `hyp(h_id, h_v)`.
    * Per-char formulation of the same sum: hex char j of chunk k
    * contributes digit/16^((j-1)%4 + 1) — every term exact dyadic, so any
    * summation order gives the identical double. */
  private[operators] def sqlSeededPlanes(seed: String, nPlanes: Int,
      dims: Int = 64): String =
    s"""hyp AS (
          SELECT p AS h_id,
            [list_sum([(strpos('0123456789abcdef',
                substr(md5('${seed}_' || p || '_' || i), j, 1)) - 1)
                / (16.0 ** (((j - 1) % 4) + 1))
                FOR j IN generate_series(1, 32)]) - 4.0
             FOR i IN generate_series(1, $dims)] AS h_v
          FROM range(0, $nPlanes) t(p))"""

  /** DuckDB twin of [[seededHyperplaneBands]] as CTE text: builds on a
    * corpus CTE `<corpus>(vec_id, v)` plus [[sqlSeededPlanes]], defining
    * `bits` and `banded(vec_id, band_idx, band_key)`. */
  private[operators] def sqlSeededBands(seed: String, nPlanes: Int,
      bandBits: Int, corpus: String): String =
    s"""${sqlSeededPlanes(seed, nPlanes)},
        bits AS (
          SELECT u.vec_id, h.h_id,
            CASE WHEN list_sum([u.v[i] * h.h_v[i]
                                FOR i IN generate_series(1, 64)]) >= 0
                 THEN 1::BIGINT ELSE 0::BIGINT END AS bit
          FROM $corpus u, hyp h),
        banded AS (
          SELECT vec_id, CAST(h_id // $bandBits AS INT) AS band_idx,
            SUM(bit * (1::BIGINT << CAST(h_id % $bandBits AS INT)))
              AS band_key
          FROM bits GROUP BY vec_id, band_idx)"""

  /** Product-quantization building blocks (m subspaces × subDim dims,
    * k codewords per subspace; codewords = the first k corpus vectors'
    * subvectors — the deterministic seeding convention ivfAssign set, so
    * the whole index has an exact SQL oracle).
    *
    * Scale shape: the codebook is m·k tiny rows (broadcast); encoding is
    * one corpus scan exploded ×m, joined against the broadcast codebook,
    * and a partial-aggregated argmin — codes are m small ints per vector,
    * a 64-float embedding compressed to 8 bytes. Distances use the dot
    * identity ‖a−b‖² = a·a − 2a·b + b·b with the SAME left-to-right
    * kernel both engines run, floor-micro quantized at 6dp
    * (boundary-proof, see [[Arith.micro6]]) so argmins tie-break
    * identically (ties fall to the lowest code id).
    */
  private[graft] def pqSubs(df: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, outCol: String): DataFrame = df
    .select(col(idCol), explode(sequence(lit(0), lit(m - 1))).as("sub"),
      col(vecCol))
    .select(col(idCol), col("sub"),
      slice(col(vecCol), col("sub") * subDim + 1, lit(subDim)).as(outCol))

  /** (code, sub, cw): the SEED codebook — the first k vectors'
    * subvectors, the deterministic starting point [[pqTrain]] refines. */
  def pqCodebook(s: SparkSession, e: DataFrame, m: Int, subDim: Int,
      k: Int): DataFrame =
    pqSubs(e.filter(col("vec_id") < k)
        .select(col("vec_id").cast("int").as("code"), col("embedding")),
      "code", "embedding", m, subDim, "cw")

  /** Per-subspace Lloyd-trained PQ codebook: `rounds` L2 k-means rounds
    * over a seed codebook, per subspace independently. Assignment is the
    * rounded-d2 argmin with ties to the lowest code (pqD2's total order);
    * the update is the exact fixed-point micro mean per (sub, code) — the
    * VecCentroid recipe in native columns: per-element
    * `floor(x·1e6 + 0.5)` longs sum order-independently, so codewords are
    * bit-identical across any partitioning and the SQL oracle can unroll
    * the same rounds ([[sqlPqTrain]]). A codeword that loses every member
    * drops out (k shrinks — mirrored by the oracle's GROUP BY); unlike
    * the cosine Lloyd loop there is no zero-norm drop, because L2
    * distance to a zero codeword is well-defined.
    *
    * Scale shape per round: one broadcast of ≤ m·k codewords, one
    * map-side partial-aggregated argmin over the exploded corpus, one
    * tiny (sub, code) rollup — the corpus never shuffles. The trained
    * codebook is checkpointed per round (m·k rows) so the broadcast plan
    * stays shallow.
    *
    * @param sv  (vec_id, sub, sv) TRAINING subvectors ([[pqSubs]]
    *            output) — callers may (and the ANN rows do) pass a
    *            deterministic sample: training needs representative
    *            members per codeword, not the whole corpus
    * @param seed  (code, sub, cw) starting codebook
    */
  def pqTrain(s: SparkSession, sv: DataFrame, seed: DataFrame,
      subDim: Int, rounds: Int): DataFrame = {
    val first = Materialize.borrowed(seed)
    Materialize.rounds(first, rounds)(pqTrainRound(s, sv, _, subDim))
      .foldLeft(first.df)((_, cb) => cb)
  }

  /** One PQ training round — the loop body of [[pqTrain]]. Argmin via
    * [[pqAssignByArray]] (one codegen'd projection, sv rides through): a
    * groupBy(vec_id, sub) min_by + first(sv) would SortAggregate the
    * exploded corpus every round (struct/array agg buffers are not
    * hash-aggregable); the (sub, code) rollup keeps its fixed-width
    * long-sum buffers and hash-aggregates map-side. PlanSpec pins the
    * round's plan free of SortAggregate. */
  private[graft] def pqTrainRound(s: SparkSession, sv: DataFrame,
      cb: DataFrame, subDim: Int): DataFrame =
    pqAssignByArray(s, sv, cb, keep = Seq("sv"))
      .groupBy("sub", "code")
      .agg(array((0 until subDim).map(i =>
        micro6(
          sum(floor(element_at(col("sv"), i + 1).cast("double") * 1e6
            + lit(0.5d))).cast("double")
            / (count(lit(1)).cast("double") * 1e6))): _*).as("cw"))

  /** The pqD2 formula as DuckDB text over list columns `a`, `b`. */
  private def sqlPqD2(a: String, b: String, subDim: Int): String =
    Arith.sqlMicro6(
      s"""list_sum([$a[i] * $a[i] FOR i IN generate_series(1, $subDim)])
        - 2.0 * list_sum([$a[i] * $b[i] FOR i IN generate_series(1, $subDim)])
        + list_sum([$b[i] * $b[i] FOR i IN generate_series(1, $subDim)])""")

  /** DuckDB twin of [[pqTrain]] seeded by the first-k subvectors, as CTE
    * text over a `sv(vec_id, sub, sv)` CTE: defines `cb0` (seed) and
    * `pa<r>`/`pu<r>`/`cb<r>` per round — the final codebook is
    * `cb<rounds>`. `trainWhere` restricts the TRAINING members (the
    * oracle twin of the sampled frame the Spark side hands pqTrain);
    * the seed stays first-k of the full corpus on both engines. */
  private[operators] def sqlPqTrain(k: Int, subDim: Int,
      rounds: Int, trainWhere: String = "TRUE"): String = {
    val seed = s"""cb0 AS (
          SELECT sub, CAST(vec_id AS INT) AS code, sv AS cw
          FROM sv WHERE vec_id < $k)"""
    val roundCtes = (1 to rounds).map { r =>
      s"""pa$r AS (
            SELECT vec_id, sub, sv, code FROM (
              SELECT sv.vec_id, sv.sub, sv.sv, cb.code,
                ${sqlPqD2("sv.sv", "cb.cw", subDim)} AS d2
              FROM sv JOIN cb${r - 1} cb ON sv.sub = cb.sub
              WHERE $trainWhere)
            QUALIFY row_number() OVER (PARTITION BY vec_id, sub
              ORDER BY d2, code) = 1),
          pu$r AS (
            SELECT sub, code, i,
              ${Arith.sqlMicro6(
                """SUM(CAST(FLOOR(sv[i] * 1000000 + 0.5) AS BIGINT))::DOUBLE
                / (COUNT(*) * 1000000.0)""")} AS c
            FROM pa$r, (SELECT unnest(generate_series(1, $subDim)) AS i)
            GROUP BY sub, code, i),
          cb$r AS (
            SELECT sub, code, array_agg(c ORDER BY i) AS cw
            FROM pu$r GROUP BY sub, code)"""
    }
    (seed +: roundCtes).mkString(",\n")
  }

  private def pqD2(s: SparkSession, a: Column, b: Column): Column =
    micro6(DotProduct(s, a, a) - lit(2.0) * DotProduct(s, a, b)
      + DotProduct(s, b, b))

  /** Codeword argmin as a per-row ARRAY expression — the assignByArray
    * recipe applied to PQ (r19): the per-subspace codebook collapses to
    * one broadcast row of sorted (code, cw) structs, and each subvector
    * picks its code via transform + array_min over struct(d2, code) —
    * exactly min_by(code, struct(d2, code))'s total order (smallest d2,
    * ties to the lowest code, NaN-is-largest in both).
    *
    * This replaces a groupBy(vec_id, sub) min_by over the subvector ×
    * codeword join: min_by's struct buffer (and the first(sv) carry in
    * the training round) is not hash-aggregable, so Spark planned
    * SortAggregate — a full per-partition SORT of the n·m exploded rows
    * on every encode pass and every training round (visible in
    * plans/r19/q_ann_pq_before.txt operators 10-12). The array form is
    * one codegen'd projection: zero aggregation, zero sort, per-task
    * state = the m·k broadcast codebook.
    *
    * `keep` carries pass-through columns (the training round's sv). */
  private def pqAssignByArray(s: SparkSession, sv: DataFrame, cb: DataFrame,
      keep: Seq[String] = Seq.empty): DataFrame =
    sv.join(broadcast(cb.groupBy("sub")
        .agg(sort_array(collect_list(struct(col("code"), col("cw"))))
          .as("cbs"))), Seq("sub"))
      .withColumn("code", array_min(transform(col("cbs"), c =>
        struct(pqD2(s, col("sv"), c.getField("cw")).as("d2"),
          c.getField("code").as("code")))).getField("code"))
      .select((Seq("vec_id", "sub", "code") ++ keep).map(col): _*)

  /** (vec_id, sub, code): every vector's nearest codeword per subspace. */
  def pqEncode(s: SparkSession, e: DataFrame, cb: DataFrame, m: Int,
      subDim: Int): DataFrame =
    pqAssignByArray(s, pqSubs(e, "vec_id", "embedding", m, subDim, "sv"), cb)

  /** IVF bucket assignment: every vector lands in its nearest-centroid
    * bucket (centroids = the first `nCentroids` vectors — deterministic
    * stand-in for k-means, so the definition has an exact SQL oracle).
    * One broadcast pass; the per-vector groupBy argmax partial-aggregates
    * map-side, so only (vec_id, best-so-far) rows shuffle. Shared by
    * q_ann_ivf (probe search) and q_dedup_embed_ivf (bucketed semantic
    * dedup — the SemDeDup shape).
    *
    * @return (vec_id, embedding, bucket)
    */
  def ivfAssign(s: SparkSession, e: DataFrame, nCentroids: Int): DataFrame = {
    val cents = e.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_v"))
    assignByArray(s, e, cents)
  }

  /** Centroid argmax as a per-row ARRAY expression: the k centroids
    * collapse to ONE broadcast row holding the sorted (c_id, c_v) array,
    * and each vector picks its bucket via transform + array_max — struct
    * ordering (c_cos, −c_id, c_id) is exactly max_by's
    * (c_cos, −c_id) key, ties to the LOWER c_id, NaN-is-largest and all.
    *
    * This replaces a groupBy-argmax over the vector×centroid crossJoin.
    * That shape was measured catastrophic at scale by the ×100 embed
    * stress: the aggregation buffer carries the embedding array, so
    * Spark plans ObjectHashAggregate, whose 128-distinct-key fallback
    * SORT-AGGREGATES the n×k intermediate — at 200k vectors × 800
    * centroids that sorted 160M kilobyte-rows (116 GB spill, 2.4 GB peak
    * task). The array form streams the scan with zero extra rows and
    * zero aggregation: per-task state is the k×d broadcast (~0.4 MB at
    * k=800), scan-bound at any corpus size — and one 10× step measured
    * 13.4× wall vs the old form's 33×.
    *
    * Also ScaleLaws' frozen-centroid ANN law: k-means trains ONCE on a
    * base corpus and the assignment runs on a scaled blow-up of it
    * against the fixed centroid frame. */
  private[graft] def assignByArray(s: SparkSession, e: DataFrame,
      cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents
        .agg(sort_array(collect_list(struct(col("c_id"), col("c_v"))))
          .as("cs"))))
      .withColumn("bucket", array_max(transform(col("cs"), c =>
        struct(cosine(s, col("embedding"), c.getField("c_v")).as("c_cos"),
          (-c.getField("c_id")).as("neg"),
          c.getField("c_id").as("c_id"))))
        .getField("c_id"))
      .select(col("vec_id"), col("embedding"), col("bucket"))

  /** DuckDB twin of [[ivfAssign]] as CTE text: defines `e` (typed vectors),
    * `cents`, `ac` (all vector×centroid cosines) and `assigned`
    * (vec_id, v, bucket) for oracle queries to build on.
    * @param eWhere  optional predicate on `e` (e.g. the zero-norm filter,
    *                mirroring [[dropZeroNorm]]) */
  private[operators] def sqlIvfAssign(
      nCentroids: Int, eWhere: String = ""): String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              ${if (eWhere.isEmpty) "" else s"WHERE $eWhere"}),
        cents AS (SELECT vec_id AS c_id, v AS c_v FROM e WHERE vec_id < $nCentroids),
        ac AS (
          SELECT e.vec_id, e.v, c.c_id,
            ${sqlCosineCols("e.v", "c.c_v")} AS c_cos
          FROM e, cents c),
        assigned AS (
          SELECT vec_id, v, c_id AS bucket FROM ac
          QUALIFY row_number() OVER (PARTITION BY vec_id
            ORDER BY c_cos DESC, c_id) = 1)"""

  /** One Lloyd (k-means) round: recompute each bucket's centroid as the
    * exact fixed-point mean of its members (VecCentroid — long micro sums
    * are order-independent, so the centroid is bit-identical across any
    * partitioning), then reassign every `corpus` vector to its nearest
    * refined centroid.
    *
    * Scale shape per round: one broadcast of k centroids, one map-side
    * partial-aggregated groupBy for the (64-long, count) centroid buffers,
    * one more broadcast for reassignment — the corpus is scanned twice and
    * never shuffled.
    *
    * @return (vec_id, embedding, bucket) after the round
    */
  private[graft] def lloydRound(s: SparkSession, corpus: DataFrame,
      assigned: DataFrame): DataFrame =
    assignByArray(s, corpus.select(col("vec_id"), col("embedding")),
      centroidsOf(assigned))

  /** (c_id, c_v): each bucket's centroid as the exact fixed-point mean of
    * its members (VecCentroid — order-independent long micro sums), with
    * zero-vector centroids dropped: a bucket of opposing embeddings can
    * average to the zero vector, whose cosine is NaN — and Spark's
    * NaN-is-largest max_by would then capture EVERY vector while the
    * oracle's NULL sorts last (same guard as dropZeroNorm, centroid side).
    * Shared by the Lloyd rounds and the refined-IVF probe (q_ann_ivf). */
  def centroidsOf(assigned: DataFrame): DataFrame = {
    val centroid = udaf(VecCentroid)
    assigned.groupBy(col("bucket").as("c_id"))
      .agg(centroid(col("embedding")).as("c_v"))
      .filter(aggregate(col("c_v"), lit(0.0d),
        (acc, x) => acc + x * x) > 0.0)
  }

  // -------------------------------------------------------------------
  // Streaming IVF index maintenance — the ANN analog of
  // q_stream_corpus_pipeline (r17 verdict item 4; registered as
  // q_stream_ann_index in streaming/Streams.scala).
  //
  // Shape: embeddings arrive as vec_id-ordered micro-batches. Batch 0
  // FREEZES the IVF centroid frame (the ivfAssign convention — the
  // nonzero-norm vectors with vec_id < AnnCentroids, all contained in
  // batch 0 by the id-range feed order) and persists it as state; every
  // batch assigns its vectors to the frozen buckets (one broadcast of
  // the k-row centroid frame, zero vector shuffles) and accumulates the
  // per-bucket index-health partials:
  //   stats(bucket, n, cos_micro, min_cos) — member count, EXACT
  //     micro-long sum of member→centroid cosines, batch min;
  //   dims(bucket, i, sx) — EXACT micro-long per-dimension vector sums
  //     (the VecCentroid fixed-point recipe), for the drift report.
  // Integer partials make the final report independent of batch
  // boundaries: summing per-batch micro-longs is associative, so the
  // assembled occupancy / compaction (mean, min cosine) / centroid-DRIFT
  // (cosine between the frozen centroid and the exact fixed-point mean
  // of everything assigned to it — the "retrain me" signal an index
  // operator watches) numbers equal the batch run bit for bit, which is
  // what lets the row hold to a DuckDB batch-twin oracle. Feed, state
  // layout, exactly-once and compaction: [[ChunkStream]].
  //
  // 100 TB shape: per batch the corpus-sized work is ONE scan of the
  // batch (assignment is a broadcast crossJoin of one collapsed
  // centroid row — the assignByArray scaladoc's argument); the shuffles
  // carry only (bucket, partial) rows bounded by k and k×64. State is
  // O(k) per batch.
  // -------------------------------------------------------------------

  private[graft] val AnnCentroids = 8

  /** Stage the embeddings table as vec_id-ordered chunk files
    * ([[ChunkStream.stageFeedOrdered]] on (vec_id, embedding)). */
  private[graft] def stageEmbedFeed(s: SparkSession, d: String,
      nChunks: Int, feedDir: String): Unit =
    ChunkStream.stageFeedOrdered(s,
      embs(s, d).select("vec_id", "embedding"), "vec_id", nChunks, feedDir)

  /** One micro-batch of the incremental index maintenance (foreachBatch
    * body). Batch 0 additionally freezes + persists the centroid frame. */
  private def annIndexStreamBatch(st: ChunkStream.State,
      batch: DataFrame, bid: Long): Unit = {
    val s = st.spark
    val e0 = dropZeroNorm(s, batch.select(col("vec_id"), col("embedding")))
    // e has TWO consumers only at batch 0 (the centroid freeze + the
    // assignment); every later batch consumes it exactly once, inside
    // the assignment checkpoint, so a separate materialization there is
    // a pure extra per-batch job (guide §1.2: count the actions)
    val e = if (bid == 0) e0.localCheckpoint() else e0
    if (bid == 0)
      st.put("cents", bid, e.filter(col("vec_id") < AnnCentroids)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_v")))
    val cents = st.read("cents")
    // checkpointed: consumed by BOTH partial puts below
    val assigned = assignByArray(s, e, cents).localCheckpoint()
    val (stats, dims) = annPartials(s, assigned, cents)
    // partials carry their batch id as a COLUMN (not just the dir name):
    // compaction merges dirs, and the drift-trajectory report
    // ([[annIndexDriftResult]]) needs per-batch resolution to survive it.
    // The two puts are independent jobs over the assigned checkpoint —
    // overlapped, the batch pays ~max(write) instead of Σ(write) (the
    // corpus stream's §2.6 recipe; any failure fails the batch before
    // the offset commits, so a replay rewrites both).
    Materialize.overlap(Seq(
      () => st.put("stats", bid, stats.withColumn("bid", lit(bid))),
      () => st.put("dims", bid, dims.withColumn("bid", lit(bid)))))
  }

  /** The index-health partials `(stats, dims)` of `assigned` against its
    * frozen `cents`, as laid out in the section comment above — one body
    * for the stream's batches and [[annIndexBatchReport]], so the two
    * cannot drift. */
  private def annPartials(s: SparkSession, assigned: DataFrame,
      cents: DataFrame): (DataFrame, DataFrame) = {
    val stats = assigned
      .join(broadcast(cents), col("bucket") === col("c_id"))
      .withColumn("cos", cosine(s, col("embedding"), col("c_v")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        // cos is already floor-micro quantized: recover the exact
        // integer micros and sum as long — associative across batches
        sum(floor(col("cos") * 1e6 + 0.5).cast("long")).as("cos_micro"),
        min(col("cos")).as("min_cos"))
    val dims = assigned
      .select(col("bucket"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("bucket", "i")
      .agg(sum(floor(col("x").cast("double") * 1e6 + 0.5).cast("long"))
        .as("sx"))
    (stats, dims)
  }

  /** Start the index-maintenance stream over a staged embedding feed
    * ([[ChunkStream.start]]). */
  private[graft] def startAnnIndexStream(s: SparkSession, feedDir: String,
      scratch: String): org.apache.spark.sql.streaming.StreamingQuery =
    ChunkStream.start(s, feedDir, scratch,
      Seq("cents", "stats", "dims"))(annIndexStreamBatch)

  /** Assemble the index-health report from the accumulated state:
    * (bucket, n_vecs, mean_cos, min_cos, drift_cos) — occupancy,
    * compaction, and the frozen-centroid drift (cosine between the
    * frozen centroid and the exact fixed-point mean of its assigned
    * members). All combines are integer-exact, so the report equals the
    * batch twin ([[annIndexBatchReport]] / the DuckDB oracle) exactly. */
  private[graft] def annIndexStreamResult(s: SparkSession,
      scratch: String): DataFrame = {
    val st = new ChunkStream.State(s, scratch)
    val cents = st.read("cents")
    val stats = st.read("stats")
      .groupBy("bucket")
      .agg(sum(col("n")).as("n_vecs"),
        sum(col("cos_micro")).as("cm"),
        min(col("min_cos")).as("min_cos"))
    val dims = st.read("dims")
      .groupBy("bucket", "i").agg(sum(col("sx")).as("sx"))
    annReportAssemble(s, stats, dims, cents)
  }

  /** The drift TRAJECTORY over stream age — the monitoring artifact the
    * final report ([[annIndexStreamResult]]) collapses: per (batch,
    * bucket), the batch's occupancy, the cumulative occupancy, and the
    * cumulative centroid drift (cosine between the frozen centroid and
    * the exact fixed-point mean of everything assigned through that
    * batch) — the curve an index operator watches to decide WHEN to
    * retrain, not just whether. Built entirely from the persisted
    * integer partials (which carry their batch id as a column, so
    * compaction-merged state keeps per-batch resolution): cumulative
    * sums ride windows partitioned by bucket(, dim) — bounded frames
    * (k and k×64 partitions, one row per batch each), never
    * corpus-sized. A (batch, bucket) pair with zero members emits no
    * row (both engines). */
  private[graft] def annIndexDriftResult(s: SparkSession,
      scratch: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = new ChunkStream.State(s, scratch)
    val cents = st.read("cents")
    val wB = Window.partitionBy("bucket").orderBy("bid")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stc = st.read("stats")
      .select(col("bid"), col("bucket"), col("n").as("n_batch"))
      .withColumn("n_cum", sum(col("n_batch")).over(wB))
    val wD = Window.partitionBy("bucket", "i").orderBy("bid")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dcum = st.read("dims")
      .withColumn("sx_cum", sum(col("sx")).over(wD))
      .select("bid", "bucket", "i", "sx_cum")
    val mv = dcum
      .join(stc.select(col("bid"), col("bucket"), col("n_cum")),
        Seq("bid", "bucket"))
      .withColumn("c", micro6(col("sx_cum").cast("double") /
        (col("n_cum").cast("double") * lit(1e6))))
      .groupBy("bid", "bucket")
      .agg(sort_array(collect_list(struct(col("i"), col("c")))).as("cs"))
      .select(col("bid"), col("bucket"),
        transform(col("cs"), x => x.getField("c")).as("mv"))
    stc.join(mv, Seq("bid", "bucket"))
      .join(broadcast(cents), col("bucket") === col("c_id"))
      .select(col("bid"), col("bucket"), col("n_batch"), col("n_cum"),
        cosine(s, col("mv"), col("c_v")).as("drift_cos"))
      .orderBy("bid", "bucket")
  }

  /** DuckDB twin of [[annIndexDriftResult]] (the q_stream_ann_drift
    * oracle): the feed's batch boundaries are pure id-range arithmetic
    * (stageFeedOrdered: lo/span over the UNFILTERED table, one file per
    * chunk, oldest-first admission ⇒ batch b = chunk b), so the oracle
    * recomputes them and windows the same integer partials. */
  private[graft] def sqlAnnDriftOracle(nChunks: Int): String =
    s"""WITH ${sqlIvfAssign(AnnCentroids, sqlZeroNormWhere)},
        bounds AS (
          SELECT MIN(vec_id) AS lo,
            (MAX(vec_id) - MIN(vec_id)) // $nChunks + 1 AS span
          FROM embeddings),
        ab AS (
          SELECT a.*, CAST((a.vec_id - b.lo) // b.span AS BIGINT) AS bid
          FROM assigned a, bounds b),
        st AS (
          SELECT bid, bucket, COUNT(*) AS n_batch
          FROM ab GROUP BY bid, bucket),
        stc AS (
          SELECT bid, bucket, n_batch,
            CAST(SUM(n_batch) OVER (PARTITION BY bucket ORDER BY bid)
              AS BIGINT) AS n_cum
          FROM st),
        u AS (
          SELECT bid, bucket, i,
            SUM(CAST(FLOOR(v[i] * 1000000 + 0.5) AS BIGINT)) AS sx
          FROM ab, (SELECT unnest(generate_series(1, 64)) AS i)
          GROUP BY bid, bucket, i),
        uc AS (
          SELECT bid, bucket, i,
            SUM(sx) OVER (PARTITION BY bucket, i ORDER BY bid) AS sx_cum
          FROM u),
        m AS (
          SELECT uc.bid, uc.bucket, uc.i,
            ${Arith.sqlMicro6(
              "uc.sx_cum::DOUBLE / (stc.n_cum * 1000000.0)")} AS c
          FROM uc JOIN stc ON uc.bid = stc.bid AND uc.bucket = stc.bucket),
        mv AS (
          SELECT bid, bucket, array_agg(c ORDER BY i) AS m
          FROM m GROUP BY bid, bucket)
        SELECT stc.bid, stc.bucket, stc.n_batch, stc.n_cum,
          ${sqlCosineCols("mv.m", "c.c_v")} AS drift_cos
        FROM stc
        JOIN mv ON mv.bid = stc.bid AND mv.bucket = stc.bucket
        JOIN cents c ON stc.bucket = c.c_id
        ORDER BY stc.bid, stc.bucket"""

  /** The batch twin of [[annIndexStreamResult]]: the same report over
    * the whole table in one pass — frozen first-[[AnnCentroids]]
    * centroids, one assignment, the identical integer-partial formulas.
    * StreamKillMain's annresume phase holds the recovered stream to this
    * frame exactly; the registered row's DuckDB oracle is its SQL twin. */
  private[graft] def annIndexBatchReport(s: SparkSession,
      d: String): DataFrame = {
    val e = nonzeroEmbs(s, d)
    val cents = e.filter(col("vec_id") < AnnCentroids)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_v"))
    val (stats, dims) = annPartials(s,
      assignByArray(s, e, cents).localCheckpoint(), cents)
    annReportAssemble(s, stats.select(col("bucket"), col("n").as("n_vecs"),
      col("cos_micro").as("cm"), col("min_cos")), dims, cents)
  }

  /** Shared final assembly of the index-health report from the exact
    * integer partials — ONE implementation so the streaming and batch
    * arms cannot drift. Mean formulas mirror the DuckDB oracle operand
    * for operand (micro-long sum → one double division → floor-micro
    * requantize — the VecCentroid / Arith discipline). */
  private def annReportAssemble(s: SparkSession, stats: DataFrame,
      dims: DataFrame, cents: DataFrame): DataFrame = {
    val mv = dims
      .join(stats.select(col("bucket"), col("n_vecs")), "bucket")
      .withColumn("c", micro6(col("sx").cast("double") /
        (col("n_vecs").cast("double") * lit(1e6))))
      .groupBy("bucket")
      .agg(sort_array(collect_list(struct(col("i"), col("c")))).as("cs"))
      .select(col("bucket"),
        transform(col("cs"), x => x.getField("c")).as("mv"))
    stats.join(mv, "bucket")
      .join(broadcast(cents), col("bucket") === col("c_id"))
      .select(col("bucket"), col("n_vecs"),
        micro6(col("cm").cast("double") /
          (col("n_vecs").cast("double") * lit(1e6))).as("mean_cos"),
        col("min_cos"),
        cosine(s, col("mv"), col("c_v")).as("drift_cos"))
      .orderBy("bucket")
  }

  /** DuckDB batch twin of the streaming index report (the
    * q_stream_ann_index oracle): frozen first-8 centroids, one
    * assignment, micro-long partials, the same two mean divisions. */
  private[graft] lazy val AnnIndexStreamOracleSql: String =
    s"""WITH ${sqlIvfAssign(AnnCentroids, sqlZeroNormWhere)},
        m AS (
          SELECT a.bucket, ${sqlCosineCols("a.v", "c.c_v")} AS cos
          FROM assigned a JOIN cents c ON a.bucket = c.c_id),
        st AS (
          SELECT bucket, COUNT(*) AS n_vecs,
            SUM(CAST(FLOOR(cos * 1000000 + 0.5) AS BIGINT)) AS cm,
            MIN(cos) AS min_cos
          FROM m GROUP BY bucket),
        u AS (
          SELECT bucket, i,
            ${Arith.sqlMicro6(
              """SUM(CAST(FLOOR(v[i] * 1000000 + 0.5) AS BIGINT))::DOUBLE
              / (COUNT(*) * 1000000.0)""")} AS c
          FROM assigned, (SELECT unnest(generate_series(1, 64)) AS i)
          GROUP BY bucket, i),
        mv AS (
          SELECT bucket, array_agg(c ORDER BY i) AS m
          FROM u GROUP BY bucket),
        dr AS (
          SELECT mv.bucket, ${sqlCosineCols("mv.m", "c.c_v")} AS drift_cos
          FROM mv JOIN cents c ON mv.bucket = c.c_id)
        SELECT st.bucket, st.n_vecs,
          ${Arith.sqlMicro6("st.cm::DOUBLE / (st.n_vecs * 1000000.0)")}
            AS mean_cos,
          st.min_cos, dr.drift_cos
        FROM st JOIN dr ON st.bucket = dr.bucket
        ORDER BY st.bucket"""

  /** One Lloyd refinement round over the IVF seeding — the single-round
    * operator (q_ann_kmeans). The reassignment side reuses the plain
    * corpus `e` (ivfAssign preserves one row per vector) to avoid
    * recomputing the seeding pass in a second DAG branch.
    *
    * @return (vec_id, embedding, bucket) after refinement
    */
  def kmeansRefine(s: SparkSession, e: DataFrame, k: Int): DataFrame =
    lloydRound(s, e, ivfAssign(s, e, k))

  /** Exactly `rounds` Lloyd rounds over the IVF seeding. There is no
    * early stop: a strict fixed point is NOT guaranteed to exist — the
    * mean centroid optimizes the Euclidean objective while the
    * reassignment argmaxes COSINE, so a small set of boundary vectors can
    * oscillate indefinitely (AnnSpec observes changed counts decaying
    * without reaching 0 at sf0.001) — and the SQL oracle unrolls the
    * same fixed depth ([[sqlKmeansRounds]]). The rounds run through
    * [[Materialize.rounds]]: each assignment is localCheckpoint'ed (the
    * per-round lineage would otherwise stack k broadcasts deep) and the
    * superseded one freed, so pinned executor memory stays O(1), not
    * O(rounds). The result is that last localCheckpoint'ed round, already
    * materialized: callers read it without checkpointing it again. All
    * five kmeans-bucketed queries (q_ann_ivf, q_knn_join,
    * q_ann_kmeans_iter, q_ann_ivfpq, q_dedup_embed_ivf) build on this. */
  def kmeansIterate(s: SparkSession, e: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    val first = Materialize.land(ivfAssign(s, e, k))
    Materialize.rounds(first, rounds)(a => lloydRound(s, a, a))
      .foldLeft(first.df)((_, a) => a)
  }

  /** kNN-join: every corpus row's `k` nearest neighbors (cosine, ties to
    * the lower nn_id). Candidates come from iterated-k-means buckets —
    * each vector ranks only its own bucket's members via a window over
    * the bucket self-join, so pair work is Σ bucket² ≈ n²/buckets and
    * per-task memory is O(largest bucket), NOT O(n). The scale contract
    * is therefore `buckets` ∝ corpus size: grown proportionally, bucket
    * occupancy — and with it per-task memory and per-bucket pair work —
    * stays CONSTANT as the corpus grows (ScaleLawMain's full group checks
    * this: 10× the vectors with 10× the buckets holds peak task memory at
    * the fixed-bucket level). k-means runs 2 Lloyd rounds. Recall is
    * approximate by definition (a true neighbor in another bucket is
    * missed); the computation itself is deterministic, so the
    * fixed-bucket q_knn_join row has an exact SQL oracle. Zero-norm
    * vectors (no defined cosine) are dropped; vectors alone in their
    * bucket emit no rows. */
  def knnJoin(s: SparkSession, e: DataFrame, k: Int,
      buckets: Int): DataFrame =
    rankWithinBuckets(s, kmeansIterate(s, dropZeroNorm(s, e), buckets, 2), k)

  /** knnJoin's ranking half over an existing (vec_id, embedding, bucket)
    * assignment. */
  def rankWithinBuckets(s: SparkSession, assigned: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = assigned.select(col("bucket"), col("vec_id").as("nn_id"),
      col("embedding").as("nn_v"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("nn_id"))
    assigned.join(b, Seq("bucket"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cos", cosine(s, col("embedding"), col("nn_v")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("rk"), col("nn_id"), col("cos"))
  }

  /** The zero-norm predicate as DuckDB text — the oracle twin of
    * [[dropZeroNorm]], passed as sqlIvfAssign's eWhere so both engines
    * filter identically. */
  private[operators] val sqlZeroNormWhere: String =
    "list_sum([x * x FOR x IN (embedding::DOUBLE[])]) > 0"

  /** DuckDB twin of [[centroidsOf]] as CTE text over an assignment CTE
    * `<prev>(vec_id, v, bucket)`: defines `u<tag>` and `cents<tag>(c_id,
    * c_v)` — VecCentroid's micro fixed-point mean, zero-norm drop. */
  private[operators] def sqlCentroids(prev: String, tag: String): String =
    s"""u$tag AS (
          SELECT bucket, i,
            ${Arith.sqlMicro6(
              """SUM(CAST(FLOOR(v[i] * 1000000 + 0.5) AS BIGINT))::DOUBLE
              / (COUNT(*) * 1000000.0)""")} AS c
          FROM $prev, (SELECT unnest(generate_series(1, 64)) AS i)
          GROUP BY bucket, i),
        cents$tag AS (
          SELECT bucket AS c_id, array_agg(c ORDER BY i) AS c_v
          FROM u$tag GROUP BY bucket
          HAVING list_sum([c * c FOR c IN array_agg(c)]) > 0)"""

  /** DuckDB twin of `rounds` Lloyd iterations as CTE text: builds on
    * `assigned` (from [[sqlIvfAssign]]) and defines `a1..a<rounds>`, each
    * carrying (vec_id, v, bucket). Mirrors [[lloydRound]] exactly — micro
    * fixed-point centroid means (VecCentroid's recipe), zero-norm centroid
    * drop, cosine argmax reassignment with ties to the lower c_id. */
  private[operators] def sqlKmeansRounds(rounds: Int): String =
    (1 to rounds).map { i =>
      val prev = if (i == 1) "assigned" else s"a${i - 1}"
      s"""${sqlCentroids(prev, i.toString)},
          re$i AS (
            SELECT a.vec_id, a.v, c.c_id,
              ${sqlCosineCols("a.v", "c.c_v")} AS c_cos
            FROM $prev a, cents$i c),
          a$i AS (
            SELECT vec_id, v, c_id AS bucket FROM re$i
            QUALIFY row_number() OVER (PARTITION BY vec_id
              ORDER BY c_cos DESC, c_id) = 1)"""
    }.mkString(",\n")

  /** Parameterized hybrid retrieval over a QUERY BATCH — the API arm the
    * q_hybrid_rrf row's fixed constants instantiate. `qTerms(q_id LONG,
    * word)` carries each query's lexical terms, `qVecs(q_id LONG, q_v)`
    * its embedding; per query, the lexical arm ranks the corpus by the
    * oracle-verified batch BM25 ([[TextOps.bm25ScoresBatch]]), the vector
    * arm by exact cosine against the broadcast query vectors, each arm
    * cuts to its per-query top-`kArm`, and reciprocal-rank fusion
    * (Cormack et al. 2009, k=60) keeps the per-query top-`kOut`.
    *
    * Shapes: BOTH arms are one corpus scan regardless of batch size (the
    * query batch broadcasts; per-query ranks are windows PARTITIONED BY
    * q_id, so adding queries adds partitions, not scans); the fusion
    * joins two ≤ batch×kArm frames. `excludeSelf` drops the corpus vector
    * whose vec_id equals q_id — the convention when queries ARE corpus
    * members (this testdata, q_rank_eval). At 100 TB the vector arm swaps
    * to the IVF probe and the lexical window to per-term impact-ordered
    * posting cuts; the (q_id, doc_id, r_lex, r_vec, rrf) contract holds.
    *
    * Exact cross-engine for ≤ 2-term queries (see bm25ScoresBatch) with
    * the same one-expression-tree rrf as the fixed row. */
  def retrieveBatch(s: SparkSession, d: String, qTerms: DataFrame,
      qVecs: DataFrame, kArm: Int, kOut: Int,
      excludeSelf: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lexW = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("doc_id"))
    val lex = TextOps.bm25ScoresBatch(s, d, qTerms)
      .withColumn("r_lex", row_number().over(lexW))
      .filter(col("r_lex") <= kArm)
      .select(col("q_id"), col("doc_id"), col("r_lex"))
    val e = embs(s, d).select(col("vec_id"), col("embedding"))
    val vecW = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("doc_id"))
    val cand = e.crossJoin(broadcast(qVecs))
    val vec = (if (excludeSelf) cand.filter(col("vec_id") =!= col("q_id"))
               else cand)
      .select(col("q_id"), col("vec_id").as("doc_id"),
        cosine(s, col("embedding"), col("q_v")).as("cos"))
      .withColumn("r_vec", row_number().over(vecW))
      .filter(col("r_vec") <= kArm)
      .select(col("q_id"), col("doc_id"), col("r_vec"))
    val outW = Window.partitionBy("q_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    lex.join(vec, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"), col("r_lex"), col("r_vec"),
        rrf)
      .withColumn("rn", row_number().over(outW))
      .filter(col("rn") <= kOut).drop("rn")
      .orderBy(col("q_id"), col("rrf").desc, col("doc_id"))
  }

  /** Contrastive-triplet kernel shared by q_triplet_sample (negWhere =
    * None: negatives drawn from the whole corpus) and q_triplet_stratum
    * (negWhere = a hash-stratum predicate: negatives drawn from a fixed
    * 1/8 slice of the corpus — the pre-slice a 100 TB run does so the
    * different-label join touches a bounded candidate set instead of
    * every row). Per 20-anchor batch: positive = hardest same-label
    * confirmation (max cosine, ties to lower id), negative = the
    * hash-priority draw (min md5(anchor‖vec)) over the (possibly
    * stratum-restricted) different-label candidates. Both arms are ONE
    * candidate scan reduced per anchor by max_by/min_by partials; the
    * per-anchor-aggregate contract is identical on both arms, so the
    * stratum changes WHICH rows are scanned, never the plan shape. */
  private def tripletFrame(s: SparkSession, d: String,
      negWhere: Option[Column]): DataFrame = {
    val e = dropZeroNorm(s, embs(s, d)
      .select(col("vec_id"), col("embedding"), col("label")))
    val a = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_v"),
        col("label").as("a_label"))
    val pos = e.join(broadcast(a),
        col("label") === col("a_label") &&
          col("vec_id") =!= col("a_id"))
      .withColumn("cos", cosine(s, col("embedding"), col("a_v")))
      .groupBy("a_id")
      .agg(max_by(col("vec_id"),
          struct(col("cos"), (-col("vec_id")).as("nid"))).as("pos_id"),
        max(col("cos")).as("pos_cos"))
    val negCand = negWhere.map(e.filter).getOrElse(e)
    val neg = negCand.join(broadcast(a), col("label") =!= col("a_label"))
      .withColumn("h",
        md5(concat_ws("_", col("a_id"), col("vec_id"))))
      .groupBy("a_id")
      .agg(min_by(col("vec_id"),
          struct(col("h"), col("vec_id"))).as("neg_id"),
        min_by(col("label"),
          struct(col("h"), col("vec_id"))).as("neg_label"))
    a.select(col("a_id"), col("a_label"))
      .join(pos, "a_id").join(neg, "a_id")
      .orderBy("a_id")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009, k = 60) of the ranks
    * `r_lex` and `r_vec`: one IEEE expression tree, a missing rank
    * contributing 0, floor-micro quantized. */
  private def rrf: Column =
    micro6(
      coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)))
      .as("rrf")

  /** An MMR round's score over the remaining candidates: `max_sim` (0.0
    * before any pick) and `mmr_micros` = floor-micro(λ·rel − μ·max_sim). */
  private def mmrScored(rem: DataFrame, lambda: Double,
      mu: Double): DataFrame = rem
    .withColumn("max_sim", coalesce(col("msim"), lit(0.0)))
    .withColumn("mmr_micros", floor(
      (lit(lambda) * col("rel") - lit(mu) * col("max_sim")) * 1e6
        + 0.5).cast("long"))

  /** Drops the newest pick `(s_id, s_v)` joined onto the remaining
    * candidates and folds its cosine into their running `msim`. */
  private def foldMaxSim(s: SparkSession, joined: DataFrame): DataFrame =
    joined
      .filter(col("doc_id") =!= col("s_id"))
      .withColumn("msim",
        greatest(col("msim"), cosine(s, col("embedding"), col("s_v"))))
      .drop("s_id", "s_v")

  /** Frees an MMR loop's candidate checkpoint and every round but the
    * last, which the result reads. */
  private def freeRounds(cand: DataFrame,
      rounds: collection.Seq[DataFrame]): Unit =
    (cand +: rounds.init).foreach(Materialize.free)

  /** Greedy MMR selection over a candidate frame `(doc_id, embedding,
    * rel)` — the kernel behind q_mmr_rerank: `k` driver-composed rounds,
    * each keeping the argmax of floor-micro(λ·rel − μ·max_sim(selected))
    * with ties to the lower doc_id (round 1: max_sim ≡ 0.0, so the pick
    * is the most relevant candidate). μ is an EXPLICIT parameter, not
    * computed as 1−λ: IEEE 1.0−0.7 is 0.30000000000000004, which would
    * silently diverge from an oracle's literal 0.3 — the caller passes
    * the exact decimal both engines parse. The candidate frame is
    * expected to be config-bounded (a top-K cut); every round
    * localCheckpoints so the composed plan stays flat in k. Returns
    * (rank, doc_id, rel, max_sim, mmr) in selection order. Not run as
    * [[mmrSelectBatch]] at one query: the batch form's per-query window
    * adds an exchange to every round. */
  def mmrSelect(s: SparkSession, candidates: DataFrame, lambda: Double,
      mu: Double, k: Int): DataFrame = {
    val cand = candidates.localCheckpoint()
    // r19: INCREMENTAL max_sim. max_j≤i cos(c, s_j) folds one pick at a
    // time — greatest(running, cos(c, s_i)) is bit-identical to the
    // max-over-the-set aggregate (IEEE max is associative; greatest and
    // max share NaN-is-largest, and cosines are non-null here) — so each
    // round is a 1-row broadcast join + per-row greatest instead of a
    // crossJoin against the WHOLE selected set, a groupBy exchange and a
    // join back. The rem chain stays lazy (candidate frames are
    // config-bounded top-K cuts); the per-round selected checkpoint
    // remains the one materialization, exactly as before.
    // msim starts NULL, not 0.0: greatest() skips nulls, so the first
    // fold yields the raw cosine — which can be NEGATIVE, and a 0.0 seed
    // would clamp it (caught live by the oracle on this corpus). The
    // round-1 contract (max_sim = 0.0) is restored at pick time.
    var rem = cand.withColumn("msim", lit(null).cast("double"))
    var selected: DataFrame = null
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (i <- 1 to k) {
      val pick = mmrScored(rem, lambda, mu)
        .orderBy(col("mmr_micros").desc, col("doc_id")).limit(1)
        .select(lit(i).as("rank"), col("doc_id"), col("embedding"),
          col("rel"), col("max_sim"), col("mmr_micros"))
      selected =
        (if (i == 1) pick else selected.unionByName(pick))
          .localCheckpoint()
      rounds += selected
      if (i < k) {
        val last = selected.filter(col("rank") === i)
          .select(col("doc_id").as("s_id"), col("embedding").as("s_v"))
        rem = foldMaxSim(s, rem.crossJoin(broadcast(last)))
      }
    }
    freeRounds(cand, rounds)
    selected.select(col("rank"), col("doc_id"), col("rel"),
      col("max_sim"), col("mmr_micros")).orderBy("rank")
  }

  /** The q_hybrid_rrf candidate builder (fixed {spark, data} + corpus
    * vec 0 query, kArm = 50), factored so q_rag_context composes the
    * SAME fused candidate set the oracle-verified row emits — the two
    * consumers cannot drift. Returns the full fused frame (doc_id,
    * r_lex, r_vec, rrf), un-cut; callers apply their own top-N. */
  private def fixedHybridFused(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 50
    val lexW = Window.orderBy(col("score").desc, col("doc_id"))
    val lex = TextOps.bm25Scores(s, d)
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), row_number().over(lexW).as("r_lex"))
    val e = embs(s, d).select(col("vec_id"), col("embedding"))
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_v"))
    val vecW = Window.orderBy(col("cos").desc, col("doc_id"))
    val vec = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        cosine(s, col("embedding"), col("q_v")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), row_number().over(vecW).as("r_vec"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_lex"), col("r_vec"),
        rrf)
  }

  /** [[mmrSelect]] generalized to a QUERY BATCH: candidates carry a q_id
    * column, every round's argmax is a per-q_id rank window instead of a
    * global limit(1), and the selected-set join keys on (q_id, doc_id) —
    * so the WHOLE batch diversifies in k rounds total, not k×batch
    * (rounds are the latency driver; adding queries adds window
    * partitions, not rounds). Same numeric contract as mmrSelect
    * (explicit μ, floor-micro mmr pinning, ties to lower doc_id).
    * Returns (rank, q_id, doc_id, rel, max_sim, mmr). */
  def mmrSelectBatch(s: SparkSession, candidates: DataFrame, lambda: Double,
      mu: Double, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = candidates.localCheckpoint()
    // r19: incremental max_sim, the mmrSelect rewrite per q_id — each
    // round folds the query's OWN newest pick via a broadcast equi-join
    // on q_id + per-row greatest (bit-identical to the max-over-set
    // aggregate; see mmrSelect). A q_id with no round-i pick has no
    // remaining rows either (a pick exists whenever remaining rows do),
    // so the inner join drops nothing.
    var rem = cand.withColumn("msim", lit(null).cast("double"))
    var selected: DataFrame = null
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (i <- 1 to k) {
      val w = Window.partitionBy("q_id")
        .orderBy(col("mmr_micros").desc, col("doc_id"))
      val pick = mmrScored(rem, lambda, mu)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(lit(i).as("rank"), col("q_id"), col("doc_id"),
          col("embedding"), col("rel"), col("max_sim"), col("mmr_micros"))
      selected =
        (if (i == 1) pick else selected.unionByName(pick))
          .localCheckpoint()
      rounds += selected
      if (i < k) {
        val last = selected.filter(col("rank") === i)
          .select(col("q_id"), col("doc_id").as("s_id"),
            col("embedding").as("s_v"))
        rem = foldMaxSim(s, rem.join(broadcast(last), Seq("q_id")))
      }
    }
    freeRounds(cand, rounds)
    selected.select(col("rank"), col("q_id"), col("doc_id"), col("rel"),
      col("max_sim"), col("mmr_micros")).orderBy("q_id", "rank")
  }

  /** [[tripletFrame]]'s oracle; `negWhere` restricts the negative
    * candidates exactly as the Spark side's does. */
  private def sqlTriplet(negWhere: Option[String]): String =
    s"""WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v, label
                FROM embeddings WHERE $sqlZeroNormWhere),
              a AS (SELECT vec_id AS a_id, v AS a_v, label AS a_label
                    FROM e WHERE vec_id < 20),
              pos AS (
                SELECT a_id, vec_id AS pos_id, cos AS pos_cos FROM (
                  SELECT a.a_id, e.vec_id,
                    ${sqlCosineCols("e.v", "a.a_v")} AS cos,
                    row_number() OVER (PARTITION BY a.a_id ORDER BY
                      ${sqlCosineCols("e.v", "a.a_v")} DESC, e.vec_id)
                      AS rn
                  FROM e JOIN a ON e.label = a.a_label
                    AND e.vec_id <> a.a_id)
                WHERE rn = 1),
              neg AS (
                SELECT a_id, vec_id AS neg_id, label AS neg_label FROM (
                  SELECT a.a_id, e.vec_id, e.label,
                    row_number() OVER (PARTITION BY a.a_id ORDER BY
                      md5(CAST(a.a_id AS VARCHAR) || '_' ||
                          CAST(e.vec_id AS VARCHAR)), e.vec_id) AS rn
                  FROM e JOIN a ON e.label <> a.a_label${
                    negWhere.fold("")(w => s" WHERE $w")})
                WHERE rn = 1)
              SELECT a.a_id, a.a_label, pos.pos_id, pos.pos_cos,
                neg.neg_id, neg.neg_label
              FROM a JOIN pos USING (a_id) JOIN neg USING (a_id)
              ORDER BY a_id"""

  /** The fused score both hybrid retrieval forms emit: reciprocal-rank
    * fusion at k = 60, one IEEE expression tree floor-micro quantized. */
  private val sqlRrf: String =
    Arith.sqlMicro6("""COALESCE(CAST(1 AS DOUBLE) / (60 + r_lex), 0.0) +
                      COALESCE(CAST(1 AS DOUBLE) / (60 + r_vec), 0.0)""")

  /** [[fixedHybridFused]]'s oracle arms: the BM25 top-50 `lex(doc_id,
    * r_lex)` and the cosine top-50 `vec(doc_id, r_vec)` against vec 0. */
  private val sqlFixedHybridArms: String = s"""WITH ${TextOps.sqlBm25Ctes},
              lex AS (
                SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                    AS INTEGER) AS r_lex
                FROM bm25
                QUALIFY row_number() OVER (ORDER BY score DESC, doc_id)
                  <= 50),
              e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
              qv AS (SELECT v AS q_v FROM e WHERE vec_id = 0),
              vcand AS (
                SELECT e.vec_id AS doc_id,
                  ${sqlCosineCols("e.v", "qv.q_v")} AS cos
                FROM e, qv WHERE e.vec_id <> 0),
              vec AS (
                SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
                    AS INTEGER) AS r_vec
                FROM vcand
                QUALIFY row_number() OVER (ORDER BY cos DESC, doc_id)
                  <= 50)"""

  /** The oracle arms of [[retrieveBatch]] at the rows' fixed three-query
    * batch `qt`: per query, `lex(q_id, doc_id, r_lex)` and
    * `vec(q_id, doc_id, r_vec)`, each a top-50. */
  private val sqlBatchRetrievalArms: String = s"""WITH qt AS (
                SELECT CAST(q_id AS BIGINT) AS q_id, word
                FROM (VALUES (0, 'spark'), (0, 'data'), (1, 'the'),
                  (1, 'of'), (2, 'merge'), (2, 'sort')) t(q_id, word)),
              ${TextOps.sqlBm25BatchCtes},
              lex AS (
                SELECT q_id, doc_id,
                  CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY score DESC, doc_id) AS INTEGER) AS r_lex
                FROM lexs
                QUALIFY row_number() OVER (PARTITION BY q_id
                  ORDER BY score DESC, doc_id) <= 50),
              e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
              qv AS (SELECT vec_id AS q_id, v AS q_v FROM e
                     WHERE vec_id < 3),
              vcand AS (
                SELECT qv.q_id, e.vec_id AS doc_id,
                  ${sqlCosineCols("e.v", "qv.q_v")} AS cos
                FROM e, qv WHERE e.vec_id <> qv.q_id),
              vec AS (
                SELECT q_id, doc_id,
                  CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, doc_id) AS INTEGER) AS r_vec
                FROM vcand
                QUALIFY row_number() OVER (PARTITION BY q_id
                  ORDER BY cos DESC, doc_id) <= 50)"""

  /** [[mmrSelect]]'s oracle at λ = 0.7, μ = 0.3, k = 5 over a
    * `cand(doc_id, v, rel)` CTE: the greedy rounds unrolled as CTEs
    * `s1`/`sel1` … `s5`/`sel5`. */
  private val sqlMmrTop5: String =
    s"""s1 AS (
              SELECT CAST(1 AS INTEGER) AS rank, doc_id, v, rel,
                CAST(0.0 AS DOUBLE) AS max_sim,
                CAST(FLOOR((0.7 * rel - 0.3 * 0.0)
                  * 1000000 + 0.5) AS BIGINT) AS mmr_micros
              FROM cand ORDER BY mmr_micros DESC, doc_id LIMIT 1),
            sel1 AS (SELECT * FROM s1),
            ${(2 to 5).map { k =>
          s"""p$k AS (
               SELECT c.doc_id, c.v, c.rel,
                 MAX(${sqlCosineCols("c.v", "s.v")}) AS max_sim
               FROM cand c, sel${k - 1} s
               WHERE c.doc_id NOT IN (SELECT doc_id FROM sel${k - 1})
               GROUP BY c.doc_id, c.v, c.rel),
             s$k AS (
               SELECT CAST($k AS INTEGER) AS rank, doc_id, v, rel,
                 max_sim, CAST(FLOOR((0.7 * rel - 0.3 * max_sim)
                   * 1000000 + 0.5) AS BIGINT) AS mmr_micros
               FROM p$k ORDER BY mmr_micros DESC, doc_id LIMIT 1),
             sel$k AS (SELECT * FROM sel${k - 1}
                       UNION ALL SELECT * FROM s$k)"""
        }.mkString(",\n")}"""

  /** The PQ rows' search over `codes` and the query LUT joined on
    * `keys`: per query, the top-20 by exact-decimal ADC distance (ties to
    * the lower vec_id), re-ranked by exact cosine against `queries`
    * (q_id, q_v) to the top 3. */
  private def pqSearch(s: SparkSession, codes: DataFrame, lut: DataFrame,
      keys: Seq[String], e: DataFrame, queries: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val adc = codes.join(broadcast(lut), keys)
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("qd2").cast("decimal(38,6)")).as("adc"))
    val cands = adc
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc"), col("vec_id"))))
      .filter(col("rk") <= 20)
    cands
      .join(e, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("cos", cosine(s, col("embedding"), col("q_v")))
      .withColumn("rank", row_number().over(
          Window.partitionBy("q_id")
            .orderBy(col("cos").desc, col("vec_id")))
        .cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos"))
      .orderBy("q_id", "rank")
  }

  /** The PQ rows' oracle encode CTE `enc(vec_id, keep…, sub, code)` over
    * `sv` and the trained codebook `cb2`. */
  private def sqlPqEnc(keep: Seq[String]): String =
    s"""enc AS (
                SELECT vec_id, ${keep.map(k => s"$k, ").mkString}sub, code FROM (
                  SELECT sv.vec_id, ${keep.map(k => s"sv.$k, ").mkString}sv.sub, cb.code,
                    ${sqlPqD2("sv.sv", "cb.cw", 8)} AS d2
                  FROM sv JOIN cb2 cb ON sv.sub = cb.sub)
                QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                  ORDER BY d2, code) = 1)"""

  /** The PQ rows' oracle query LUT `lut(q_id, keep…, sub, code, qd2)`
    * over the query subvectors `qsub`. */
  private def sqlPqLut(keep: Seq[String]): String =
    s"""lut AS (
                SELECT q_id, ${keep.map(k => s"qsub.$k, ").mkString}qsub.sub, cb.code,
                  ${sqlPqD2("qsub.qsv", "cb.cw", 8)} AS qd2
                FROM qsub JOIN cb2 cb ON qsub.sub = cb.sub)"""

  /** [[pqSearch]]'s ADC top-20 as CTEs `adc` and `cands`, `enc` and
    * `lut` joined on `keep` plus (sub, code). */
  private def sqlPqCands(keep: Seq[String]): String =
    s"""adc AS (
                SELECT l.q_id, enc.vec_id,
                  SUM(CAST(l.qd2 AS DECIMAL(38,6))) AS adc
                FROM enc JOIN lut l
                  ON ${keep.map(k => s"enc.$k = l.$k AND ").mkString}enc.sub = l.sub AND enc.code = l.code
                WHERE enc.vec_id <> l.q_id
                GROUP BY l.q_id, enc.vec_id),
              cands AS (
                SELECT q_id, vec_id FROM adc
                QUALIFY row_number() OVER (PARTITION BY q_id
                  ORDER BY adc, vec_id) <= 20)"""

  /** [[pqSearch]]'s cosine re-rank of `cands` against the query CTE
    * `queries` (aliased q), ending the query. */
  private def sqlPqRerank(queries: String): String =
    s"""rer AS (
                SELECT t.q_id, t.vec_id,
                  ${sqlCosineCols("e.v", "q.q_v")} AS cos
                FROM cands t JOIN e ON e.vec_id = t.vec_id
                JOIN $queries ON q.q_id = t.q_id)
              SELECT q_id, rank, vec_id, cos FROM (
                SELECT q_id, vec_id, cos,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, vec_id) AS rank
                FROM rer)
              WHERE rank <= 3 ORDER BY q_id, rank"""

  /** Rank order of the IVF rows' neighbors: per query, cosine
    * descending, ties to the lower vec_id. */
  private def byQueryCos = {
    import org.apache.spark.sql.expressions.Window
    Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
  }

  /** The per-query top-k tail: over candidate rows carrying a query
    * `(q_id, q_v)` and a vector `(vec_id, embedding)`, drop the query
    * itself, score `cos` and keep the `k` best as `rk` 1..k in
    * [[byQueryCos]] order. */
  private def topKByQuery(s: SparkSession, cands: DataFrame,
      k: Int): DataFrame =
    cands.filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(s, col("embedding"), col("q_v")))
      .withColumn("rk", row_number().over(byQueryCos))
      .filter(col("rk") <= k)

  /** Exact top-k: each query's (vec_id < 10) `k` nearest vectors of `e`,
    * by one broadcast-query corpus scan. */
  private def exactTopK(s: SparkSession, e: DataFrame, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_v"))
    topKByQuery(s, e.crossJoin(broadcast(q)), k)
  }

  /** The IVF rows' exact arm: each query's top-10 cosine neighbors
    * `(q_id, nn_id)`. */
  private def exactTop10(s: SparkSession, e: DataFrame): DataFrame =
    exactTopK(s, e, 10).select(col("q_id"), col("vec_id").as("nn_id"))

  /** Each query vector's rank `c_rk` over the centroids `cents`, by
    * cosine `c_cos` descending, ties to the lower c_id. */
  private def probeRanks(s: SparkSession, queries: DataFrame,
      cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cw = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_cos").desc, col("c_id"))
    queries.crossJoin(broadcast(cents))
      .withColumn("c_cos", cosine(s, col("embedding"), col("c_v")))
      .withColumn("c_rk", row_number().over(cw))
  }

  /** The `probes` nearest buckets of each query: `(q_id, q_v, bucket)`. */
  private def probed(ranked: DataFrame, probes: Int): DataFrame =
    ranked.filter(col("c_rk") <= probes)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_v"),
        col("c_id").as("bucket"))

  /** The `k` nearest `bucketed` vectors to each query within its probed
    * buckets `qp(q_id, q_v, bucket)`, ranked `rk` by [[byQueryCos]]. */
  private def probedTopK(s: SparkSession, bucketed: DataFrame,
      qp: DataFrame, k: Int): DataFrame =
    topKByQuery(s, bucketed.join(qp, Seq("bucket")), k)

  /** The nonzero embeddings `(vec_id, embedding)` the ANN rows index. */
  private def nonzeroEmbs(s: SparkSession, d: String): DataFrame =
    dropZeroNorm(s, embs(s, d).select(col("vec_id"), col("embedding")))

  /** The k-means rows' output: per bucket of `assigned`, its size and
    * smallest vec_id. */
  private def bucketHistogram(assigned: DataFrame): DataFrame = assigned
    .groupBy("bucket")
    .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"))
    .orderBy("bucket")

  /** [[bucketHistogram]]'s oracle after `rounds` unrolled Lloyd rounds. */
  private def sqlBucketHistogram(rounds: Int): String =
    s"""WITH ${sqlIvfAssign(8, sqlZeroNormWhere)},
              ${sqlKmeansRounds(rounds)}
              SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec
              FROM a$rounds GROUP BY bucket ORDER BY bucket"""

  /** The kNN rows' oracle prologue: two unrolled Lloyd rounds (`a2`) and
    * every same-bucket pair as `cand(vec_id, nn_id, cos)`. */
  private val sqlKnnCands: String =
    s"""WITH ${sqlIvfAssign(8, sqlZeroNormWhere)},
              ${sqlKmeansRounds(2)},
              cand AS (
                SELECT a.vec_id, b.vec_id AS nn_id,
                  ${sqlCosineCols("a.v", "b.v")} AS cos
                FROM a2 a JOIN a2 b
                  ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)"""

  /** The IVF rows' oracle prologue: 8 buckets over the nonzero vectors
    * `e`, two unrolled Lloyd rounds (`a2`) and the probe centroids
    * `centsp`. */
  private val sqlIvfTrained: String =
    s"""WITH ${sqlIvfAssign(8, sqlZeroNormWhere)},
              ${sqlKmeansRounds(2)},
              ${sqlCentroids("a2", "p")}"""

  /** [[exactTop10]]'s oracle: CTEs `qs` and `exact(q_id, nn_id)`. */
  private val sqlExactTop10: String =
    s"""qs AS (SELECT vec_id AS q_id, v AS q_v FROM e
                     WHERE vec_id < 10),
              exact AS (
                SELECT q_id, nn_id FROM (
                  SELECT q.q_id, e.vec_id AS nn_id,
                    row_number() OVER (PARTITION BY q.q_id ORDER BY
                      ${sqlCosineCols("e.v", "q.q_v")} DESC, e.vec_id)
                      AS rk
                  FROM e JOIN qs q ON e.vec_id <> q.q_id)
                WHERE rk <= 10)"""

  /** [[probeRanks]]' cosines as CTE `qc`. */
  private val sqlQueryCentroidCos: String =
    s"""qc AS (
                SELECT e.vec_id, e.v, c.c_id,
                  ${sqlCosineCols("e.v", "c.c_v")} AS c_cos
                FROM e, centsp c WHERE e.vec_id < 10)"""

  /** [[probed]] and the candidates of [[probedTopK]] over `qc`, as CTEs
    * `qprobe<tag>` and `cand<tag>(q_id, nn_id, cos)`. */
  private def sqlProbeCands(probes: Int, tag: String): String =
    s"""qprobe$tag AS (
                SELECT vec_id AS q_id, v AS q_v, c_id AS bucket FROM qc
                QUALIFY row_number() OVER (PARTITION BY vec_id
                  ORDER BY c_cos DESC, c_id) <= $probes),
              cand$tag AS (
                SELECT q.q_id, a.vec_id AS nn_id,
                  ${sqlCosineCols("a.v", "q.q_v")} AS cos
                FROM qprobe$tag q JOIN a2 a ON a.bucket = q.bucket
                WHERE a.vec_id <> q.q_id)"""

  /** [[probedTopK]] at k = 10 over `cand<tag>`, as CTE `ivf<tag>`. */
  private def sqlIvfTop10(tag: String): String =
    s"""ivf$tag AS (
                SELECT q_id, nn_id FROM (
                  SELECT q_id, nn_id,
                    row_number() OVER (PARTITION BY q_id
                      ORDER BY cos DESC, nn_id) AS rk
                  FROM cand$tag)
                WHERE rk <= 10)"""

  val queries: Seq[Q] = Seq(

    // ---- per-label embedding statistics ----------------------------------
    Q("q_embed_stats",
      (s, d) => embs(s, d)
        .withColumn("nrm", norm(col("embedding")))
        .groupBy("label")
        // nrm is a raw data-derived double; pre-quantize with micro6 so
        // davg's inner round(x,6) only ever sees an already-6dp operand
        // (the boundary-safe class) — round(raw_norm, 6) itself would
        // re-open the Spark-shortest-decimal vs DuckDB-binary half-mode
        // divergence the floor-micro migration closed.
        .agg(count(lit(1)).as("n_vecs"),
          davg(micro6(col("nrm"))).as("avg_norm"),
          (floor(min(col("nrm")) * 1e6 + 0.5) / 1e6).as("min_norm"),
          (floor(max(col("nrm")) * 1e6 + 0.5) / 1e6).as("max_norm"))
        .orderBy("label"),
      Some(s"""SELECT label, COUNT(*) AS n_vecs,
              ${sqlAvg(sqlMicro6("sqrt(list_sum([x * x FOR x IN (embedding::DOUBLE[])]))"))} AS avg_norm,
              CAST(FLOOR(MIN(sqrt(list_sum([x * x FOR x IN (embedding::DOUBLE[])]))) * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS min_norm,
              CAST(FLOOR(MAX(sqrt(list_sum([x * x FOR x IN (embedding::DOUBLE[])]))) * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS max_norm
              FROM embeddings GROUP BY label ORDER BY label""")),

    // ---- per-label centroid via typed Aggregator (UDAF) ------------------
    // graft.functions.VecCentroid: partial aggregation ships one
    // (64-double, count) buffer per group per partition — vectors never
    // cross the shuffle.
    Q("q_embed_centroid",
      (s, d) => {
        val centroid = udaf(VecCentroid)
        // The centroid ships as a comma-joined string of micro-fixed-point
        // INTEGERS (round6(x)·1e6 is exact), not an array column: the
        // driver's pandas compare cannot sort/hash list columns, and an
        // integer string is immune to double-formatting divergence.
        embs(s, d)
          .groupBy("label")
          .agg(centroid(col("embedding")).as("c"),
            count(lit(1)).as("n_vecs"))
          .select(col("label"),
            array_join(transform(col("c"),
              x => round(x * 1e6).cast("long").cast("string")), ",")
              .as("centroid_micros"),
            col("n_vecs"))
          .orderBy("label")
      },
      // fixed-point micros sum, mirroring VecCentroid exactly: long sums
      // are order-independent, so both engines compute identical doubles
      // in the same IEEE ops (micros/(cnt·1e6), floor-micro6, ·1e6,
      // round0 — round0 is boundary-safe here because its operand is
      // within ulps of an exact integer, never near a .5).
      Some(s"""WITH u AS (
                SELECT label, i,
                  SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                      AS BIGINT)) AS micros,
                  COUNT(*) AS cnt
                FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
                GROUP BY label, i),
              c AS (SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY label)
              SELECT u.label,
                string_agg(
                  CAST(CAST(ROUND(${Arith.sqlMicro6(
                    "u.micros::DOUBLE / (u.cnt * 1000000.0)")}
                       * 1000000.0, 0) AS BIGINT) AS VARCHAR),
                  ',' ORDER BY u.i) AS centroid_micros,
                MIN(c.n_vecs) AS n_vecs
              FROM u JOIN c ON u.label = c.label
              GROUP BY u.label ORDER BY u.label""")),

    // ---- embedding-cosine similarity join (exact) ------------------------
    // At a 0.45 cosine threshold the angle is 63° — no LSH family reaches
    // ~100% recall there, so the EXACT similarity join is the right
    // operator. cosinePairs dispatches on Catalyst's size estimate:
    // broadcast nested-loop with the codegen kernel under 64 MB, the
    // distributed blocked GEMM above — no driver-side collect on either
    // path. The approximate scale path for HIGH thresholds is q_ann_ivf.
    Q("q_cosine_pairs",
      (s, d) => cosinePairs(s,
        embs(s, d).select(col("vec_id"), col("embedding")), 0.45)
        .orderBy("a_id", "b_id"),
      Some(cosinePairsOracleSql)),

    // ---- blocked-GEMM cosine join, forced (the 100 TB arm) ---------------
    // The same exact join THROUGH the distributed blocked-GEMM arm with
    // blocks pinned at 8. q_cosine_pairs' size dispatch always takes the
    // broadcast arm at test/bench scale, so without this row the blocked
    // operator — the arm that actually runs at 100 TB — would have no
    // standing correctness row and no bench line for vs_prev to catch
    // regressions in. 8 blocks exercise the full upper-triangle pair grid
    // (36 cells), the per-pair block join, and the native kernel; results
    // are bit-identical to the broadcast arm (same HALF_UP 6dp rounding),
    // so the row shares q_cosine_pairs' exact oracle.
    Q("q_cosine_pairs_gemm",
      (s, d) => blockedCosineJoin(s,
        embs(s, d).select(col("vec_id"), col("embedding")), 0.45,
        blocks = 8)
        .orderBy("a_id", "b_id"),
      Some(cosinePairsOracleSql)),

    // ---- brute-force cosine top-k (the exact baseline) -------------------
    // Rank on the ROUNDED cosine with vec_id tiebreak so ranking is
    // deterministic and engine-independent.
    Q("q_ann_topk",
      (s, d) => exactTopK(s,
        embs(s, d).select(col("vec_id"), col("embedding")), 5)
        .select(col("q_id"), col("rk"), col("vec_id").as("nn_id"), col("cos"))
        .orderBy("q_id", "rk"),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              scored AS (
                SELECT q.vec_id AS q_id, b.vec_id AS nn_id,
                  ${sqlCosine("b", "q")} AS cos
                FROM e q JOIN e b ON b.vec_id <> q.vec_id
                WHERE q.vec_id < 10)
              SELECT q_id, CAST(rk AS INTEGER) AS rk, nn_id, cos FROM (
                SELECT q_id, nn_id, cos,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, nn_id) AS rk
                FROM scored)
              WHERE rk <= 5 ORDER BY q_id, rk""")),

    // ---- IVF-style approximate top-k (the 100 TB path) -------------------
    // The index is built over ITERATED k-means buckets (2 Lloyd rounds over
    // the first-8 seeding — the bucket-balanced shape q_dedup_embed_ivf
    // established; raw first-k seeds would hang bucket balance on whichever
    // vectors happen to be rows 0..7). A query ranks buckets by cosine to
    // the bucket CENTROID (the mean of its members — centroidsOf) and
    // probes its 2 nearest buckets only, so the search touches ~2/8 of the
    // corpus instead of all of it. "Approximate" means approximate RECALL
    // vs exhaustive search — the computation itself (deterministic seeding,
    // exact fixed-point centroid means, rounded exact cosines, total-order
    // tie-breaks) is fully deterministic, so it has an exact SQL oracle.
    Q("q_ann_ivf",
      (s, d) => {
        val e = nonzeroEmbs(s, d)
        val bucketed = kmeansIterate(s, e, 8, 2)
        val cents = centroidsOf(bucketed)
        // queries probe their 2 nearest buckets (tiny set: rank per query)
        val q = probed(probeRanks(s, e.filter(col("vec_id") < 10), cents), 2)
        probedTopK(s, bucketed, q, 3)
          .select(col("q_id"), col("rk"), col("vec_id").as("nn_id"), col("cos"))
          .orderBy("q_id", "rk")
      },
      // Same formulation: a2 = 2 unrolled Lloyd rounds, probe centroids =
      // centroidsOf(a2) (the `p`-tagged CTE), queries probe top-2 buckets
      // (ties → lower c_id), rank candidates by (cos DESC, nn_id).
      Some(s"""$sqlIvfTrained,
              $sqlQueryCentroidCos,
              ${sqlProbeCands(2, "")}
              SELECT q_id, CAST(rk AS INTEGER) AS rk, nn_id, cos FROM (
                SELECT q_id, nn_id, cos,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, nn_id) AS rk
                FROM cand)
              WHERE rk <= 3 ORDER BY q_id, rk""")),

    // ---- IVF recall measurement ------------------------------------------
    // The number that decides whether the indexed path may serve: per
    // query, recall@10 of the probe-2 IVF arm against the exact
    // brute-force top-10 (q_lsh_recall's discipline applied to the IVF
    // index — both arms are the oracle-verified q_ann_topk/q_ann_ivf
    // machineries, so the measurement itself cannot silently rot). Shapes:
    // the exact arm is one broadcast-query corpus scan; the IVF arm scans
    // only the probed buckets; the comparison joins two ≤ queries×10
    // frames. recall = n_hits/n_exact with the denominator a COUNT(*) of
    // the exact arm's per-query rows (one exact IEEE long-ratio division
    // in both engines, never a hardcoded constant). At 100 TB the exact
    // arm restricts to a sampled query panel — recall is estimated, never
    // computed corpus-wide, and the per-query contract is unchanged.
    Q("q_ann_ivf_recall",
      (s, d) => {
        val e = nonzeroEmbs(s, d)
        val exact = exactTop10(s, e)
        val bucketed = kmeansIterate(s, e, 8, 2)
        val cents = centroidsOf(bucketed)
        val qp = probed(probeRanks(s, e.filter(col("vec_id") < 10), cents), 2)
        val ivf = probedTopK(s, bucketed, qp, 10)
          .select(col("q_id"), col("vec_id").as("nn_id"), lit(1).as("m"))
        exact.join(ivf, Seq("q_id", "nn_id"), "left")
          .groupBy("q_id")
          // denominator = this query's ACTUAL exact-neighbor count (the
          // group size of the left join), not an assumed literal 10.0 —
          // a sub-11-row corpus or zero-norm rows shrink the true top-k
          // and a shared constant would deflate recall in both engines,
          // invisible to the cross-check (r11 ADVICE)
          .agg(count(col("m")).as("n_hits"),
            count(lit(1)).cast("double").as("n_exact"))
          .select(col("q_id"), col("n_hits"),
            (col("n_hits") / col("n_exact")).as("recall_at_10"))
          .orderBy("q_id")
      },
      Some(s"""$sqlIvfTrained,
              $sqlExactTop10,
              $sqlQueryCentroidCos,
              ${sqlProbeCands(2, "")},
              ${sqlIvfTop10("")}
              SELECT exact.q_id,
                CAST(COUNT(ivf.nn_id) AS BIGINT) AS n_hits,
                CAST(COUNT(ivf.nn_id) AS BIGINT) / COUNT(*)::DOUBLE
                  AS recall_at_10
              FROM exact LEFT JOIN ivf
                ON exact.q_id = ivf.q_id AND exact.nn_id = ivf.nn_id
              GROUP BY exact.q_id
              ORDER BY exact.q_id""")),

    // ---- IVF probe/recall curve ------------------------------------------
    // The accuracy/cost knob measured: q_ann_ivf_recall's measurement
    // swept over probes ∈ {1, 2, 4} (of 8 buckets), reduced to the total
    // hit count and mean recall@10 across the 10-query panel — the curve
    // that picks the serving probe count (recall rises with probes, scan
    // cost rises linearly; the knee is the config). The trained buckets,
    // centroids, and the exact arm compute ONCE and all three probe arms
    // reuse them; each arm adds only its probe cut + candidate rank.
    // mean_recall divides by COUNT(*) of the exact arm — NOT a literal
    // 100.0 (10 queries × 10 assumed neighbors): a zero-norm query
    // vector or a query with < 10 exact neighbors shrinks the true
    // denominator, and a shared hardcoded constant would deflate
    // mean_recall identically in both engines, invisible to the
    // cross-check (r11 ADVICE). One exact IEEE long/double division.
    Q("q_ann_probe_curve",
      (s, d) => {
        val e = nonzeroEmbs(s, d)
        val exact = exactTop10(s, e).localCheckpoint()
        val bucketed = kmeansIterate(s, e, 8, 2)
        val cents = centroidsOf(bucketed).localCheckpoint()
        val ranked = probeRanks(s, e.filter(col("vec_id") < 10), cents)
          .localCheckpoint()
        val denom = exact.agg(count(lit(1)).cast("double").as("n_exact"))
        def arm(probes: Int): DataFrame = {
          val ivf = probedTopK(s, bucketed, probed(ranked, probes), 10)
            .select(col("q_id"), col("vec_id").as("nn_id"),
              lit(1).as("m"))
          exact.join(ivf, Seq("q_id", "nn_id"), "left")
            .agg(count(col("m")).as("n_hits_total"))
            .crossJoin(broadcast(denom))
            .select(lit(probes).as("probes"), col("n_hits_total"),
              (col("n_hits_total") / col("n_exact")).as("mean_recall"))
        }
        arm(1).unionByName(arm(2)).unionByName(arm(4)).orderBy("probes")
      },
      Some {
        val arms = Seq(1, 2, 4).map { p =>
          s"""${sqlProbeCands(p, p.toString)},
             ${sqlIvfTop10(p.toString)},
             hit$p AS (
               SELECT CAST($p AS INTEGER) AS probes,
                 CAST(COUNT(ivf$p.nn_id) AS BIGINT) AS n_hits_total,
                 CAST(COUNT(ivf$p.nn_id) AS BIGINT) /
                   (SELECT COUNT(*)::DOUBLE FROM exact) AS mean_recall
               FROM exact LEFT JOIN ivf$p
                 ON exact.q_id = ivf$p.q_id
                 AND exact.nn_id = ivf$p.nn_id)"""
        }.mkString(",\n")
        s"""$sqlIvfTrained,
            $sqlExactTop10,
            $sqlQueryCentroidCos,
            $arms
            SELECT * FROM hit1 UNION ALL SELECT * FROM hit2
            UNION ALL SELECT * FROM hit4 ORDER BY probes"""
      }),

    // ---- kNN-join (per-corpus-row top-k neighbors) ------------------------
    // The retrieval-index-build shape: for EVERY corpus row, its k nearest
    // neighbors — not a fixed query set (q_ann_topk/q_ann_ivf) and not a
    // pair-threshold join (q_cosine_pairs). See [[knnJoin]]; buckets
    // pinned at 8 here so the definition has an exact SQL oracle.
    // Vectors alone in their bucket emit no rows, exactly like the oracle.
    Q("q_knn_join",
      (s, d) => knnJoin(s,
        embs(s, d).select(col("vec_id"), col("embedding")), 3, 8)
        .orderBy("vec_id", "rk"),
      Some(s"""$sqlKnnCands
              SELECT vec_id, CAST(rk AS INTEGER) AS rk, nn_id, cos FROM (
                SELECT vec_id, nn_id, cos,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, nn_id) AS rk
                FROM cand)
              WHERE rk <= 3 ORDER BY vec_id, rk""")),

    // ---- kNN majority-vote classification ----------------------------------
    // The label-propagation arm of the similarity family: predict each
    // vector's label from the majority vote of its k=3 nearest neighbors
    // (q_knn_join's exact machinery — iterated-k-means buckets, never a
    // cartesian), ties to the smaller label. This is the semi-supervised
    // curation move — a small labeled seed set propagates quality/domain
    // labels across an unlabeled corpus through the embedding space — and
    // doubles as the embedding-health eval (leave-one-out accuracy: a
    // `correct` share near chance means the encoder carries no label
    // signal). Shapes at scale: neighbor candidates are bucket-bounded
    // (the knnJoin contract — buckets ∝ corpus holds per-task memory
    // constant), the label join is a vec_id equi-join, and the vote is a
    // partial-aggregated count over ≤ k rows per vector; vectors alone in
    // their bucket emit no rows, exactly like the oracle. Deterministic
    // end to end, so the fixed-bucket row has an exact SQL oracle.
    Q("q_knn_classify",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = embs(s, d).select(col("vec_id"), col("embedding"),
          col("label"))
        val votes = knnJoin(s, e.select("vec_id", "embedding"), 3, 8)
          .join(e.select(col("vec_id").as("nn_id"),
            col("label").as("nn_label")), Seq("nn_id"))
          .groupBy("vec_id", "nn_label")
          .agg(count(lit(1)).as("n_votes"))
        val w = Window.partitionBy("vec_id")
          .orderBy(col("n_votes").desc, col("nn_label"))
        votes.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") === 1)
          .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
          .select(col("vec_id"), col("label"), col("nn_label").as("pred"),
            col("n_votes"), (col("nn_label") === col("label")).as("correct"))
          .orderBy("vec_id")
      },
      Some(s"""$sqlKnnCands,
              nn AS (
                SELECT vec_id, nn_id FROM (
                  SELECT vec_id, nn_id,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY cos DESC, nn_id) AS rk
                  FROM cand)
                WHERE rk <= 3),
              v AS (
                SELECT nn.vec_id, emb.label AS nn_label,
                  CAST(COUNT(*) AS BIGINT) AS n_votes
                FROM nn JOIN embeddings emb ON emb.vec_id = nn.nn_id
                GROUP BY 1, 2)
              SELECT v.vec_id, me.label, v.nn_label AS pred, v.n_votes,
                (v.nn_label = me.label) AS correct
              FROM v JOIN embeddings me ON me.vec_id = v.vec_id
              QUALIFY row_number() OVER (PARTITION BY v.vec_id
                ORDER BY v.n_votes DESC, v.nn_label) = 1
              ORDER BY v.vec_id""")),

    // ---- k-means refinement round (real clustering for the IVF index) ----
    // One Lloyd iteration over the IVF buckets: exact fixed-point centroid
    // recompute + cosine reassignment (kmeansRefine). Deterministic end to
    // end — seeding is the fixed first-8 rule, centroid means are order-
    // independent long sums, ties break on bucket id — so the refined
    // bucket HISTOGRAM has an exact SQL oracle. Zero-norm vectors are
    // excluded on both sides (no defined cosine).
    Q("q_ann_kmeans",
      (s, d) => bucketHistogram(kmeansRefine(s, nonzeroEmbs(s, d), 8)),
      Some(sqlBucketHistogram(1))),

    // ---- iterated k-means (the real clustering for the IVF index) --------
    // Lloyd iterated for exactly 4 rounds (kmeansIterate — no early
    // stop), so the oracle simply unrolls all 4 rounds: whatever the
    // data does, both sides equal the exactly-4-rounds result. AnnSpec
    // pins that the iteration does real multi-round work at sf0.001
    // (round-2 changed count > 0, strong decay across rounds) with a
    // test-local loop over lloydRound.
    Q("q_ann_kmeans_iter",
      (s, d) => bucketHistogram(kmeansIterate(s, nonzeroEmbs(s, d), 8, 4)),
      Some(sqlBucketHistogram(4))),

    // ---- cluster-balanced diversity sampling ------------------------------
    // The SemDeDup-family curation move: embedding-cluster the corpus,
    // then cap each cluster's contribution — dense regions (near-duplicate
    // content, boilerplate) are downsampled toward the cap while sparse
    // regions survive whole, flattening the semantic density of the
    // training mix. Selection within a cluster is the repo's deterministic
    // md5-priority order (reproducible on any cluster size, unbiased
    // w.r.t. vec_id order), not RNG. Shape at scale: the trained
    // assignment is the same sample-trained kmeansIterate every ANN row
    // uses; the cap is ONE row_number window partitioned by bucket — and
    // since the scale contract grows `buckets` ∝ corpus (the q_knn_join
    // argument), per-task sort input stays at cap·O(1) while total kept
    // rows stay ≈ buckets·cap, i.e. the sampled corpus size is directly
    // budgeted by config. Oracle unrolls the identical 2 Lloyd rounds.
    Q("q_diversity_sample",
      (s, d) => {
        val e = nonzeroEmbs(s, d)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("bucket")
          .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        kmeansIterate(s, e, 8, 2)
          .select(col("vec_id"), col("bucket"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 40)
          .select(col("bucket"), col("vec_id"))
          .orderBy("bucket", "vec_id")
      },
      Some(s"""WITH ${sqlIvfAssign(8, sqlZeroNormWhere)},
              ${sqlKmeansRounds(2)},
              r AS (
                SELECT vec_id, bucket,
                  row_number() OVER (PARTITION BY bucket
                    ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn
                FROM a2)
              SELECT bucket, vec_id FROM r WHERE rn <= 40
              ORDER BY bucket, vec_id""")),

    // ---- product-quantization ANN (the compressed-index family) ----------
    // PQ completes the index triad: brute force (exact), IVF (partition),
    // PQ (compression). 8 subspaces × 8 codewords squeeze each 64-float
    // vector to 8 small codes; codewords are TRAINED — 2 per-subspace L2
    // Lloyd rounds over the first-k seed (pqTrain; deterministic
    // fixed-point means, so the oracle unrolls the identical training).
    // Query-time ADC builds an 8×8 lookup table
    // of query-subvector→codeword distances per query (one broadcast of
    // 5·8·8 = 320 tiny rows), so scoring the WHOLE corpus is a code
    // lookup + a sum of 8
    // table entries per vector — no float kernel over the corpus at all.
    // The approximate top-20 then re-ranks by exact cosine to a top-3.
    // Per-vector ADC sums 8 rounded-decimal entries (exact DECIMAL
    // arithmetic, so shuffle order can't move the ranking); at 100 TB the
    // codes table is ~1/32 the corpus bytes and the scan never touches
    // the raw embeddings until the re-rank's top-20 fetch.
    Q("q_ann_pq",
      (s, d) => {
        val m = 8; val subDim = 8; val k = 8
        val e = nonzeroEmbs(s, d)
        // codebooks are TRAINED ON A DETERMINISTIC SAMPLE (every 2nd
        // vector), the FAISS practice — codeword quality needs thousands
        // of members per codeword, not the whole corpus, so training cost
        // stays O(sample) while encoding still covers every vector. The
        // modulus sample is engine-exact (a production pipeline would
        // hash-sample; on the dense synthetic ids a modulus is the same
        // thing with an exact oracle).
        val cb = pqTrain(s,
          pqSubs(e, "vec_id", "embedding", m, subDim, "sv")
            .filter(col("vec_id") % 2 === 0),
          pqCodebook(s, e, m, subDim, k), subDim, rounds = 2)
        val codes = pqEncode(s, e, cb, m, subDim)
        val queries = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_v"))
        val lut = pqSubs(queries, "q_id", "q_v", m, subDim, "qsv")
          .join(broadcast(cb), Seq("sub"))
          .withColumn("qd2", pqD2(s, col("qsv"), col("cw")))
          .select(col("q_id"), col("sub"), col("code"), col("qd2"))
        pqSearch(s, codes, lut, Seq("sub", "code"), e, queries)
      },
      Some(s"""WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE $sqlZeroNormWhere),
              subs AS (SELECT m FROM range(0, 8) t(m)),
              sv AS (
                SELECT e.vec_id, s.m AS sub,
                  list_slice(e.v, s.m * 8 + 1, s.m * 8 + 8) AS sv
                FROM e, subs s),
              ${sqlPqTrain(8, 8, 2, "sv.vec_id % 2 = 0")},
              ${sqlPqEnc(Nil)},
              q AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 5),
              qsub AS (
                SELECT q_id, s.m AS sub,
                  list_slice(q.q_v, s.m * 8 + 1, s.m * 8 + 8) AS qsv
                FROM q, subs s),
              ${sqlPqLut(Nil)},
              ${sqlPqCands(Nil)},
              ${sqlPqRerank("q")}""")),

    // ---- IVF-PQ composite index (the full FAISS-style ANN stack) ----------
    // The two index families composed the way a production vector index
    // ships them: iterated-k-means buckets narrow the search to 2-of-8
    // probes (IVF), and within buckets vectors are stored as 8-byte PQ
    // codes over RESIDUALS v − centroid(bucket(v)) — residuals concentrate
    // near the origin, so the coarse 8-codeword codebook spends its bits
    // on the part of the vector the bucket assignment hasn't already
    // explained (Jégou et al., "Product Quantization for Nearest Neighbor
    // Search", TPAMI'11); the residual codebook is Lloyd-trained per
    // subspace (pqTrain, 2 rounds over the first-k seed). Query time:
    // probe the 2 nearest buckets, build
    // one 8×8 ADC table per (query, probed bucket) from the query's
    // PER-BUCKET residual, score that bucket's codes by table lookup +
    // exact decimal sum, re-rank the top-20 by exact cosine. Everything
    // deterministic (fixed seeding, exact fixed-point centroids, dyadic
    // residual subtraction, rounded d2, total-order ties) → exact oracle.
    // At 100 TB: codes are ~1/32 the corpus bytes, the scan per query
    // touches 2/8 of the code table and NO raw embeddings until the
    // re-rank's top-20 fetch, and every join is against broadcast-tiny
    // codebooks/LUTs.
    Q("q_ann_ivfpq",
      (s, d) => {
        val m = 8; val subDim = 8; val k = 8; val nBuckets = 8
        val e = nonzeroEmbs(s, d)
        val assigned = kmeansIterate(s, e, nBuckets, 2)
        val cents = centroidsOf(assigned)
        // residual = v − its bucket's centroid: float→double is exact and
        // the subtraction is the same IEEE op both engines run
        val resid = assigned
          .join(broadcast(cents), col("bucket") === col("c_id"))
          .select(col("vec_id"), col("bucket"),
            zip_with(col("embedding"), col("c_v"),
              (x, c) => x.cast("double") - c).as("resid"))
        // residual codebooks train on the same every-2nd deterministic
        // sample as q_ann_pq (see there); encoding below covers all rows
        val cb = pqTrain(s,
          pqSubs(resid.select(col("vec_id"), col("resid")),
            "vec_id", "resid", m, subDim, "sv")
            .filter(col("vec_id") % 2 === 0),
          pqSubs(resid.filter(col("vec_id") < k)
              .select(col("vec_id").cast("int").as("code"), col("resid")),
            "code", "resid", m, subDim, "cw"),
          subDim, rounds = 2)
        // r19: residual encode via pqAssignByArray (bucket rides through)
        // — the groupBy(vec_id, sub) min_by + first(bucket) form
        // SortAggregated the full exploded residual corpus (struct/array
        // agg buffers are not hash-aggregable)
        val codes = pqAssignByArray(s,
          resid
            .select(col("vec_id"), col("bucket"),
              explode(sequence(lit(0), lit(m - 1))).as("sub"), col("resid"))
            .select(col("vec_id"), col("bucket"), col("sub"),
              slice(col("resid"), col("sub") * subDim + 1, lit(subDim))
                .as("sv")),
          cb, keep = Seq("bucket"))
        // probe: 2 nearest refined centroids per query (the q_ann_ivf rule)
        val qprobe = probeRanks(s, e.filter(col("vec_id") < 5), cents)
          .filter(col("c_rk") <= 2)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_v"),
            col("c_id").as("bucket"), col("c_v"))
        // the query's residual is PER PROBED BUCKET (against that bucket's
        // centroid) — the detail that makes residual ADC distances honest
        val lut = qprobe
          .select(col("q_id"), col("bucket"),
            zip_with(col("q_v"), col("c_v"),
              (x, c) => x.cast("double") - c).as("qr"))
          .select(col("q_id"), col("bucket"),
            explode(sequence(lit(0), lit(m - 1))).as("sub"), col("qr"))
          .select(col("q_id"), col("bucket"), col("sub"),
            slice(col("qr"), col("sub") * subDim + 1, lit(subDim)).as("qsv"))
          .join(broadcast(cb), Seq("sub"))
          .withColumn("qd2", pqD2(s, col("qsv"), col("cw")))
          .select(col("q_id"), col("bucket"), col("sub"), col("code"),
            col("qd2"))
        val qv = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_v"))
        pqSearch(s, codes, lut, Seq("bucket", "sub", "code"), e, qv)
      },
      Some(s"""WITH ${sqlIvfAssign(8, sqlZeroNormWhere)},
              ${sqlKmeansRounds(2)},
              ${sqlCentroids("a2", "p")},
              resid AS (
                SELECT a.vec_id, a.bucket,
                  [a.v[i] - c.c_v[i] FOR i IN generate_series(1, 64)] AS r
                FROM a2 a JOIN centsp c ON a.bucket = c.c_id),
              subs AS (SELECT m FROM range(0, 8) t(m)),
              sv AS (
                SELECT r.vec_id, r.bucket, s.m AS sub,
                  list_slice(r.r, s.m * 8 + 1, s.m * 8 + 8) AS sv
                FROM resid r, subs s),
              ${sqlPqTrain(8, 8, 2, "sv.vec_id % 2 = 0")},
              ${sqlPqEnc(Seq("bucket"))},
              qc AS (
                SELECT e.vec_id, e.v, c.c_id, c.c_v,
                  ${sqlCosineCols("e.v", "c.c_v")} AS c_cos
                FROM e, centsp c WHERE e.vec_id < 5),
              qprobe AS (
                SELECT vec_id AS q_id, v AS q_v, c_id AS bucket, c_v FROM qc
                QUALIFY row_number() OVER (PARTITION BY vec_id
                  ORDER BY c_cos DESC, c_id) <= 2),
              qsub AS (
                SELECT q_id, bucket, s.m AS sub,
                  list_slice([q_v[i] - c_v[i]
                              FOR i IN generate_series(1, 64)],
                    s.m * 8 + 1, s.m * 8 + 8) AS qsv
                FROM qprobe, subs s),
              ${sqlPqLut(Seq("bucket"))},
              ${sqlPqCands(Seq("bucket"))},
              q1 AS (SELECT vec_id AS q_id, v AS q_v FROM e
                     WHERE vec_id < 5),
              ${sqlPqRerank("q1 q")}""")),

    // ---- seeded-hyperplane LSH recall (sign-LSH in its design regime) -----
    // q_dedup_embed_lsh runs on the same seeded plane family this row
    // measures (Dedup.scala cites it as its recall evidence); THIS row
    // pins the planes in the regime sign-LSH is built for:
    // near-identical pairs at cos ≈ 0.9. Each corpus vector gets a
    // deterministic "re-encoded" copy — component i scaled by 1.5 or 0.5
    // on an md5 coin flip, so cos(v, v') ≈ 1/√1.25 ≈ 0.894 independent of
    // the data (exact double arithmetic, identical in both engines). The
    // planted pairs with exact cos ≥ 0.85 are the ground truth; candidates
    // are planted pairs sharing ≥ 1 of 4 4-bit bands over 16 seeded
    // planes. Expected recall 1-(1-p⁴)⁴ ≈ 0.95 at p = 1-θ/π ≈ 0.85 —
    // DedupSpec pins ≥ 0.6 at sf0.001. Everything is deterministic (md5
    // coins, dyadic-exact Irwin–Hall planes), so recall itself has an
    // exact SQL oracle — the measurement cannot silently rot.
    Q("q_lsh_recall",
      (s, d) => {
        // localCheckpoint (r19): e is consumed by the offset agg, the
        // banding union, and the planted-pair ground truth — and copies
        // by the union AND the ground truth — so the un-materialized form
        // re-scanned the parquet (and re-ran the 64-md5-coin perturbation
        // kernel) once per consumer: 30 parquet scans in the committed
        // before-plan. Same discipline as the dedup rows' shingle
        // checkpoint; at production scale this diagnostic runs on a
        // sample by design.
        val e = nonzeroEmbs(s, d)
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double"))
              .as("embedding"))
          .localCheckpoint()
        // copies live past max(vec_id) — offset computed IN-PLAN (1-row
        // broadcast), collision-free at any scale factor
        val off = e.agg((max(col("vec_id")) + 1L).as("__off"))
        // two selects on purpose: the perturbation coin keys on the
        // ORIGINAL vec_id, and an aliased `vec_id + off` in the same
        // select would capture the lambda's col("vec_id") reference
        val copies = e.crossJoin(broadcast(off))
          .select(col("vec_id"), col("__off"),
            transform(col("embedding"), (x, i) =>
              x * when(substring(md5(concat_ws("_", lit("perturb"),
                col("vec_id").cast("string"), (i + lit(1)).cast("string"))),
                1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"),
                lit(1.5d)).otherwise(lit(0.5d))).as("embedding"))
          .select((col("vec_id") + col("__off")).as("vec_id"),
            col("embedding"))
          .localCheckpoint()
        val union = e.unionByName(copies)
        val banded = seededHyperplaneBands(s, union, "gauss", 16, 4)
        // candidates restricted to the planted pairs up front: the
        // (band, b_id = a_id + off) equi-join keeps the probe linear in n
        // instead of materializing every same-band pair
        val cand = banded.select(col("band_idx"), col("band_key"),
            col("vec_id").as("a_id"))
          .crossJoin(broadcast(off))
          .join(banded.select(col("band_idx").as("b_band_idx"),
            col("band_key").as("b_band_key"), col("vec_id").as("b_id")),
            col("band_idx") === col("b_band_idx") &&
              col("band_key") === col("b_band_key") &&
              col("b_id") === col("a_id") + col("__off"))
          .select("a_id", "b_id").dropDuplicates("a_id", "b_id")
        val planted = e.select(col("vec_id").as("a_id"),
            col("embedding").as("a_v"))
          .crossJoin(broadcast(off))
          .join(copies.select(col("vec_id").as("b_id"),
            col("embedding").as("b_v")),
            col("b_id") === col("a_id") + col("__off"))
          .withColumn("cos", cosine(s, col("a_v"), col("b_v")))
          .filter(col("cos") >= 0.85)
        val hit = planted.join(cand, Seq("a_id", "b_id"), "left_semi")
        planted.agg(count(lit(1)).as("n_true"),
            davg(col("cos")).as("avg_cos"))
          .crossJoin(hit.agg(count(lit(1)).as("n_recalled")))
          .select(col("n_true"), col("n_recalled"),
            Arith.micro4(col("n_recalled").cast("double") / col("n_true"))
              .as("recall"),
            col("avg_cos"))
      },
      Some(s"""WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE $sqlZeroNormWhere),
              off AS (SELECT MAX(vec_id) + 1 AS o FROM e),
              copies AS (
                SELECT e.vec_id + o.o AS vec_id,
                  [e.v[i] * (CASE WHEN substr(md5('perturb_' || e.vec_id
                      || '_' || i), 1, 1)
                    IN ('8','9','a','b','c','d','e','f')
                    THEN 1.5 ELSE 0.5 END)
                   FOR i IN generate_series(1, 64)] AS v
                FROM e, off o),
              u AS (SELECT * FROM e UNION ALL SELECT * FROM copies),
              ${sqlSeededBands("gauss", 16, 4, "u")},
              cand AS (
                SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
                FROM banded a JOIN banded b
                  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                JOIN off ON b.vec_id = a.vec_id + off.o),
              truth AS (
                SELECT e.vec_id AS a_id, c.vec_id AS b_id,
                  ${sqlCosineCols("e.v", "c.v")} AS cos
                FROM e JOIN copies c
                  ON c.vec_id = e.vec_id + (SELECT o FROM off)
                WHERE ${sqlCosineCols("e.v", "c.v")} >= 0.85)
              SELECT t.n_true, r.n_recalled,
                ${Arith.sqlMicro4("r.n_recalled::DOUBLE / t.n_true")} AS recall,
                t.avg_cos
              FROM (SELECT COUNT(*) AS n_true,
                      ${Arith.sqlAvg("cos")} AS avg_cos FROM truth) t,
                   (SELECT COUNT(*) AS n_recalled FROM truth
                    JOIN cand USING (a_id, b_id)) r""")),

    // ---- covariance / Gram matrix (the distributed-PCA building block) ---
    // Population covariance of the 64-dim embedding corpus: the reduction
    // every PCA / whitening / Mahalanobis pipeline runs first. Two passes:
    //  1. per-dimension micro-long means (floor of the exact long-sum
    //     quotient — integer fixed point end to end, no ROUND()
    //     half-mode exposure), collapsed to ONE broadcast row;
    //  2. per-row centering (zip_with, exact integer differences) and the
    //     d² pair expansion via two chained posexplodes — the blowup is
    //     PIPELINE-LOCAL (scan → explode → partial hash-agg in one
    //     stage): only the 64×64/2 running sums per task ever reach the
    //     shuffle, so corpus size never multiplies shuffle bytes. Upper
    //     triangle only (cov is symmetric). Pair terms are exact 64-bit
    //     integer products summed as DECIMAL(38,0), so the result is
    //     exact cross-engine; output is micro-fixed-point LONGs, immune
    //     to double formatting.
    // At 100 TB this is the textbook shape: one scan, one 2080-group
    // shuffle, a driver-side 64×64 eigensolve after (O(d³), data-free).
    Q("q_pca_cov",
      (s, d) => covUpper(s, d).orderBy("i", "j"),
      Some(s"""WITH $covSqlCtes
              SELECT i, j, cov_micros FROM cov ORDER BY i, j""")),

    // ---- top principal component (distributed power iteration) ------------
    // The eigensolve HALF of PCA, kept distributed end-to-end: 10 rounds
    // of matvec + normalize over the covariance matrix as (i, j, c) rows —
    // each round is one 64-row join-aggregate and a 1-row broadcast of
    // the L2 norm, never a driver-side collect. At d = 64 a driver solve
    // would of course be fine (the matrix is O(d²), data-free); the point
    // of the row-form is that the SAME plan runs when d is 4096 and the
    // matrix itself is a distributed frame.
    // Exactness: the vector RE-QUANTIZES to micro longs every round, so
    // each matvec term is an exact 64-bit integer product (cov_micros ≤
    // ~1e5 × xm ≤ 1e6 ⇒ « 2^63) summed as DECIMAL(38,0) — no ROUND()
    // anywhere (round-half semantics differ cross-engine on exact-.5
    // terms; integer sums have none). The only double ops are the cast,
    // sqrt, and division — bit-identical IEEE on both engines — and the
    // floor(x·1e6 + 0.5) requantization. Start vector is 1/√64 = 0.125
    // exactly. Output: micro eigenvector + Rayleigh-quotient eigenvalue.
    Q("q_pca_power",
      (s, d) => {
        val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
        val covU = covUpper(s, d)
        val covF = covU.unionByName(covU.filter(col("i") =!= col("j"))
            .select(col("j").as("i"), col("i").as("j"), col("cov_micros")))
          .localCheckpoint()
        // r19: the 10 matvec+normalize rounds compose into ONE lazy plan
        // — the per-round localCheckpoint existed only because the norm
        // subtree referenced mv a SECOND time (plan doubles per round
        // without cutting lineage); pcaPowerRound computes the norm as a
        // global window over the d-row frame instead, so each round
        // references its predecessor exactly once, the plan stays linear
        // in rounds, and the loop runs as one action instead of 10
        // checkpoint jobs (this row's wall was job floor, not CPU —
        // fresh-JVM A/B 3.18 → see OPTIMIZATION_r19.md). Arithmetic is
        // unchanged: the window sums the same round6-decimal y² terms
        // (order-independent), then the same sqrt/divide/floor.
        var v = covF.select(col("i").as("j")).distinct()
          .select(col("j"), lit(125000L).as("xm"))
        for (_ <- 1 to 10) v = pcaPowerRound(s, covF, v)
        // materialized ONCE: the Rayleigh quotient + output below consume
        // v three times, which would re-execute the 10-round chain thrice
        v = v.localCheckpoint()
        def matvec(f: org.apache.spark.sql.DataFrame) =
          pcaMatvec(s, covF, f)
        // Rayleigh quotient in micro³: T = Σ xm_i · S_i. Both operands
        // cast to DECIMAL(38,0) BEFORE the multiply: the Long×Long form
        // peaked ~8e18, only ~13% under Long.MaxValue, and Spark
        // (non-ANSI) wraps silently on overflow while DuckDB raises — a
        // silent cross-engine divergence if the embedding bound ever
        // loosens. Decimal products are exact at any realistic scale.
        val lam = matvec(v)
          .join(v.select(col("j").as("i"), col("xm")), "i")
          .agg(sum(col("xm").cast(dec0) * col("y").cast("long").cast(dec0))
            .as("t"))
          .select(floor(col("t").cast("double") / 1e12 + 0.5).cast("long")
            .as("eig_micros"))
        v.select(col("j").as("i"), col("xm").as("x_micros"))
          .crossJoin(broadcast(lam))
          .orderBy("i")
      },
      Some(pcaPowerOracleSql)),

    // ---- int8 embedding quantization --------------------------------------
    // The serving/storage compression pass: per-dimension min/max over the
    // corpus (one tiny agg, collapsed to a broadcast row of arrays), then
    // each vector quantizes to 0..255 codes in a single codegen'd
    // projection — ZERO shuffles touch the vectors themselves, so the op
    // is scan-bound at any corpus size (the asymmetric-distance tables of
    // q_ann_pq are the query-side consumer of exactly these codes).
    // Codes and the max reconstruction error are exact cross-engine: the
    // double arithmetic is the same IEEE expression tree on both engines,
    // codes are integers, and the error ships as micro-fixed-point.
    Q("q_embed_quantize",
      (s, d) => {
        val e = embs(s, d).select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        val u = e.select(col("vec_id"),
            posexplode(col("v")).as(Seq("p0", "x")))
          .select((col("p0") + 1).as("i"), col("x"))
        val statsRow = u.groupBy("i")
          .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
          .agg(sort_array(collect_list(
            struct(col("i"), col("mn"), col("mx")))).as("st"))
          .select(transform(col("st"), s => s("mn")).as("mns"),
            transform(col("st"), s => s("mx") - s("mn")).as("rngs"))
        e.crossJoin(broadcast(statsRow))
          .select(col("vec_id"), col("v"), col("mns"), col("rngs"),
            zip_with(zip_with(col("v"), col("mns"), (x, mn) => x - mn),
              col("rngs"), (sx, r) => when(r === 0d, 0L)
                .otherwise(floor(sx / r * 255 + 0.5).cast("long")))
              .as("codes"))
          .select(col("vec_id"),
            md5(array_join(transform(col("codes"), c => c.cast("string")),
              ",")).as("codes_md5"),
            floor(array_max(transform(
              arrays_zip(col("v"), col("codes"), col("rngs"), col("mns")),
              z => abs(z("v") - (z("codes") * z("rngs") / 255d + z("mns")))))
              * 1e6 + 0.5).cast("long").as("max_err_micros"))
          .orderBy("vec_id")
      },
      Some("""WITH u AS (
                SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
                FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)),
              st AS (SELECT i, MIN(x) AS mn, MAX(x) - MIN(x) AS r
                     FROM u GROUP BY i),
              q AS (
                SELECT u.vec_id, u.i, u.x, st.mn, st.r,
                  CASE WHEN st.r = 0 THEN 0
                       ELSE CAST(FLOOR((u.x - st.mn) / st.r * 255 + 0.5)
                         AS BIGINT) END AS code
                FROM u JOIN st USING (i))
              SELECT vec_id,
                md5(string_agg(CAST(code AS VARCHAR), ',' ORDER BY i))
                  AS codes_md5,
                CAST(FLOOR(MAX(ABS(x - (CAST(code AS DOUBLE) * r / 255 + mn)))
                  * 1000000 + 0.5) AS BIGINT) AS max_err_micros
              FROM q GROUP BY vec_id ORDER BY vec_id""")),

    // ---- hybrid retrieval: reciprocal-rank fusion -------------------------
    // The production RAG/retrieval composition: a lexical arm (the
    // oracle-verified q_bm25 scorer, TextOps.bm25Scores) and a vector arm
    // (exact cosine against a 1-row broadcast query embedding) each keep
    // their top-50 by (score DESC, id) — a TakeOrderedAndProject, so each
    // arm's candidate set is bounded by CONFIG (K=50), not corpus size —
    // then fuse with reciprocal-rank fusion rrf = Σ 1/(60+rank)
    // (Cormack et al. 2009's standard k=60). The rank windows run AFTER
    // the top-K cut, over ≤50-row frames, so the global-order window is
    // bounded; the only corpus-scale work is the two arms themselves,
    // both already scale-audited (q_bm25's bounded-key shuffles, the
    // q_ann_topk broadcast scan — at 100 TB the vector arm swaps to the
    // IVF probe, same (doc_id, rank) contract). Exact cross-engine: each
    // arm's rank is deterministic under its total order, and the fused
    // score is ONE fixed IEEE expression tree — coalesce(1/(60+r_lex),0)
    // + coalesce(1/(60+r_vec),0) in that order — rounded to 6 on both
    // engines; ties break on doc_id. doc_id ≡ vec_id by testdata
    // construction (embeddings are of the documents, TESTDATA.md).
    Q("q_hybrid_rrf",
      (s, d) => fixedHybridFused(s, d)
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(15),
      Some(s"""$sqlFixedHybridArms
              SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
                r_lex, r_vec, $sqlRrf AS rrf
              FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
              ORDER BY rrf DESC, doc_id LIMIT 15""")),

    // ---- retrieval evaluation: MRR / precision@k --------------------------
    // The index-evaluation op every retrieval/embedding pipeline runs
    // before shipping an index: per query, rank the corpus by exact
    // cosine (the q_ann_topk machinery), mark a neighbor RELEVANT iff it
    // shares the query's label, and reduce to the standard quality
    // numbers — first-hit rank, reciprocal rank (MRR's per-query term),
    // hits and precision in the top-10. Shapes: ONE corpus scan against
    // the broadcast 10-query set, per-query rank window (candidate sets
    // are per-query top-10 cuts), labels join back from the same scan by
    // equi-join. Exact cross-engine: ranks are deterministic under
    // (cos DESC, vec_id), rr = 1/rank and p = hits/10 are single IEEE
    // divisions, and hit counts are integers. At 100 TB the ranked arm
    // swaps to the IVF probe (same (q_id, rk, nn_id) contract) and the
    // eval reduces per query exactly as here — evaluation cost scales
    // with queries × k, not corpus.
    Q("q_rank_eval",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = embs(s, d)
          .select(col("vec_id"), col("embedding"), col("label"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_v"),
            col("label").as("q_label"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id"))
        val top = e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cos", cosine(s, col("embedding"), col("q_v")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10)
          .withColumn("hit", (col("label") === col("q_label")).cast("int"))
        top.groupBy("q_id", "q_label")
          .agg(
            min(when(col("hit") === 1, col("rk"))).as("first_hit"),
            sum(col("hit")).as("n_hits"),
            coalesce(micro6(lit(1.0) /
              min(when(col("hit") === 1, col("rk")))), lit(0.0)).as("rr"),
            (sum(col("hit")) / lit(10.0)).as("p_at_10"))
          .orderBy("q_id")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                    FROM embeddings),
              q AS (SELECT vec_id AS q_id, v AS q_v, label AS q_label
                    FROM e WHERE vec_id < 10),
              ranked AS (
                SELECT q.q_id, q.q_label, e.label,
                  row_number() OVER (PARTITION BY q.q_id ORDER BY
                    ${sqlCosineCols("e.v", "q.q_v")} DESC, e.vec_id) AS rk
                FROM e JOIN q ON e.vec_id <> q.q_id),
              top AS (
                SELECT q_id, q_label,
                  CASE WHEN label = q_label THEN 1 ELSE 0 END AS hit, rk
                FROM ranked WHERE rk <= 10)
              SELECT q_id, q_label,
                CAST(MIN(CASE WHEN hit = 1 THEN rk END) AS INTEGER)
                  AS first_hit,
                CAST(SUM(hit) AS BIGINT) AS n_hits,
                COALESCE(${Arith.sqlMicro6("""CAST(1 AS DOUBLE) /
                  MIN(CASE WHEN hit = 1 THEN rk END)""")}, 0.0) AS rr,
                CAST(SUM(hit) AS BIGINT) / CAST(10 AS DOUBLE) AS p_at_10
              FROM top GROUP BY q_id, q_label ORDER BY q_id""")),

    // ---- ANN index health report -----------------------------------------
    // The index-build observability op: after training the IVF buckets
    // (same iterated k-means as q_ann_ivf), report per-bucket occupancy
    // and compaction — member count, mean and minimum cosine to the
    // bucket's own centroid. The numbers an index operator watches
    // before serving: skewed occupancy → probe imbalance, low
    // mean/min compaction → bad recall at fixed probes. Shapes: the
    // trained centroids are a broadcast k-row frame; ONE corpus scan
    // computes each member's centroid cosine; the report is a k-row
    // aggregate with map-side partials. Mean cosine follows the Arith
    // discipline (round-6 terms, decimal sum, then divide) so the
    // bucket mean is shuffle-order-independent and exact cross-engine.
    Q("q_ann_index_stats",
      (s, d) => {
        val e = nonzeroEmbs(s, d)
        val bucketed = kmeansIterate(s, e, 8, 2)
        val cents = centroidsOf(bucketed)
        bucketed.join(broadcast(cents), col("bucket") === col("c_id"))
          .withColumn("cos", cosine(s, col("embedding"), col("c_v")))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_vecs"),
            (floor(dsum(col("cos")) / count(lit(1)) * 1e6 + 0.5) / 1e6)
              .as("mean_cos"),
            min(col("cos")).as("min_cos"))
          .orderBy("bucket")
      },
      Some(s"""WITH ${sqlIvfAssign(8, sqlZeroNormWhere)},
              ${sqlKmeansRounds(2)},
              ${sqlCentroids("a2", "p")},
              m AS (
                SELECT a.bucket, ${sqlCosineCols("a.v", "c.c_v")} AS cos
                FROM a2 a JOIN centsp c ON a.bucket = c.c_id)
              SELECT bucket, COUNT(*) AS n_vecs,
                CAST(FLOOR(${sqlSum("cos")} / COUNT(*) * 1000000 + 0.5)
                  AS BIGINT) / 1000000.0 AS mean_cos,
                MIN(cos) AS min_cos
              FROM m GROUP BY bucket ORDER BY bucket""")),

    // ---- contrastive triplet sampling -------------------------------------
    // The training-data op for embedding/contrastive models: per anchor,
    // one (anchor, positive, negative) triplet — positive = the hardest
    // confirmation (highest-cosine same-label vector, ties to lower id),
    // negative = a DETERMINISTIC pseudo-random different-label vector
    // (min md5(anchor‖vec) — the hash-priority convention every sampling
    // row here uses, so the draw is reproducible across runs and cluster
    // sizes). Shapes: the 20-anchor set broadcasts; each arm is ONE
    // corpus scan reduced per anchor by max_by/min_by aggregates with
    // map-side partials — no window over corpus-sized frames, no
    // cartesian. max(cos) is the argmax's cosine because ties share the
    // value. At scale the positive arm narrows to label-bucketed
    // candidates and the negative arm to any hash-stratified slice; both
    // keep the per-anchor-aggregate contract.
    Q("q_triplet_sample",
      (s, d) => tripletFrame(s, d, negWhere = None),
      Some(sqlTriplet(None))),

    // ---- triplet sampling, stratum-restricted negatives -------------------
    // The scale arm the q_triplet_sample scaladoc promised (the advisor's
    // negStratum note): negatives are drawn from a FIXED hash stratum —
    // first hex digit of md5(vec_id) in {0, 1}, a deterministic 1/8 slice
    // both engines compute identically — so at 100 TB the different-label
    // join scans ~12.5% of the corpus instead of all of it, trading
    // negative-pool coverage for bounded candidate IO (the mirror of
    // q_sample_weighted_cfg's config-arm pattern). Positives are
    // unchanged; the draw stays the hash-priority min within the slice,
    // reproducible across runs and cluster sizes.
    Q("q_triplet_stratum",
      (s, d) => tripletFrame(s, d, negWhere = Some(
        substring(md5(col("vec_id").cast("string")), 1, 1)
          .isin("0", "1"))),
      Some(sqlTriplet(Some(
        "substring(md5(CAST(e.vec_id AS VARCHAR)), 1, 1) IN ('0', '1')")))),

    // ---- batch-parameterized hybrid retrieval -----------------------------
    // The q_hybrid_rrf kernels behind a query-batch API ([[retrieveBatch]]):
    // three queries — each a 2-term lexical query plus a corpus query
    // vector — retrieved in ONE pass (one corpus scan per arm for the
    // whole batch, per-query rank windows, per-query top-10 fusion). The
    // batch here is a row-local constant so the row stays oracle-self-
    // contained; the kernel takes any (q_id, word) / (q_id, q_v) frames.
    Q("q_hybrid_rrf_batch",
      (s, d) => {
        import s.implicits._
        val qTerms = Seq(
          (0L, "spark"), (0L, "data"), (1L, "the"), (1L, "of"),
          (2L, "merge"), (2L, "sort")).toDF("q_id", "word")
        val qVecs = embs(s, d).filter(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_v"))
        retrieveBatch(s, d, qTerms, qVecs, kArm = 50, kOut = 10,
          excludeSelf = true)
      },
      Some(s"""$sqlBatchRetrievalArms,
              fused AS (
                SELECT COALESCE(lex.q_id, vec.q_id) AS q_id,
                  COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
                  r_lex, r_vec, $sqlRrf AS rrf
                FROM lex FULL OUTER JOIN vec
                  ON lex.q_id = vec.q_id AND lex.doc_id = vec.doc_id)
              SELECT q_id, doc_id, r_lex, r_vec, rrf FROM fused
              QUALIFY row_number() OVER (PARTITION BY q_id
                ORDER BY rrf DESC, doc_id) <= 10
              ORDER BY q_id, rrf DESC, doc_id""")),

    // ---- MMR diversity rerank --------------------------------------------
    // Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98): from
    // the query's top-15 cosine candidates, greedily keep 5 maximizing
    // mmr = 0.7·rel − 0.3·max_sim(selected) — the rerank that stops a
    // retrieval page (or a RAG context window) from filling with 5 copies
    // of the same near-duplicate passage. Greedy is inherently
    // sequential, so the loop runs as 5 driver-composed rounds over the
    // CONFIG-BOUNDED candidate frame (15 rows, localCheckpointed — the
    // corpus-scale work is only the candidate arm's TakeOrdered scan; at
    // 100 TB that arm swaps to the IVF probe and the loop cost is
    // unchanged). Exact cross-engine: rel and pairwise sims are
    // floor-micro cosines (cosine() migrated off round(x, 6) in r12 —
    // it diverged here in practice: Spark rounds the shortest decimal
    // rendering, DuckDB the binary value, and 0.7·rel landed on a
    // .xxxxx49999… boundary at sf0.01), each round's mmr pins to
    // micro-longs with floor(x·1e6+½) — ONE IEEE expression both
    // engines evaluate bit-identically — and argmaxes tie to the
    // lower doc_id.
    Q("q_mmr_rerank",
      (s, d) => {
        val e = nonzeroEmbs(s, d)
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_v"))
        val cand = e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("vec_id").as("doc_id"), col("embedding"),
            cosine(s, col("embedding"), col("q_v")).as("rel"))
          .orderBy(col("rel").desc, col("doc_id")).limit(15)
        mmrSelect(s, cand, lambda = 0.7, mu = 0.3, k = 5)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                  FROM embeddings WHERE $sqlZeroNormWhere),
            qv AS (SELECT v AS q_v FROM e WHERE vec_id = 0),
            cand AS (
              SELECT e.vec_id AS doc_id, e.v,
                ${sqlCosineCols("e.v", "qv.q_v")} AS rel
              FROM e, qv WHERE e.vec_id <> 0
              ORDER BY rel DESC, doc_id LIMIT 15),
            $sqlMmrTop5
            SELECT rank, doc_id, rel, max_sim, mmr_micros FROM sel5
            ORDER BY rank""")),

    // ---- batch MMR rerank --------------------------------------------------
    // [[mmrSelectBatch]] over the q_hybrid_rrf_batch candidate sets: all
    // three queries' per-q top-10 fused candidates diversify to 3 picks
    // each in THREE greedy rounds total — the rounds (the latency driver)
    // don't multiply by batch size; each round's argmax is a per-q_id
    // rank window. rel = exact cosine to the owning query's vector. The
    // oracle unrolls the same per-query greedy with NOT EXISTS
    // anti-membership per round.
    Q("q_mmr_rerank_batch",
      (s, d) => {
        import s.implicits._
        val qTerms = Seq(
          (0L, "spark"), (0L, "data"), (1L, "the"), (1L, "of"),
          (2L, "merge"), (2L, "sort")).toDF("q_id", "word")
        val e = embs(s, d).select(col("vec_id"), col("embedding"))
        val qVecs = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_v"))
        val cand = retrieveBatch(s, d, qTerms, qVecs, kArm = 50, kOut = 10,
            excludeSelf = true)
          .select(col("q_id"), col("doc_id"))
          .join(e, col("doc_id") === col("vec_id"))
          .join(broadcast(qVecs), "q_id")
          .select(col("q_id"), col("doc_id"), col("embedding"),
            cosine(s, col("embedding"), col("q_v")).as("rel"))
        mmrSelectBatch(s, cand, lambda = 0.7, mu = 0.3, k = 3)
      },
      Some {
        val rounds = (2 to 3).map { k =>
          s"""p$k AS (
               SELECT c.q_id, c.doc_id, c.v, c.rel,
                 MAX(${sqlCosineCols("c.v", "s.v")}) AS max_sim
               FROM cand c JOIN sel${k - 1} s ON c.q_id = s.q_id
               WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} x
                 WHERE x.q_id = c.q_id AND x.doc_id = c.doc_id)
               GROUP BY c.q_id, c.doc_id, c.v, c.rel),
             s$k AS (
               SELECT CAST($k AS INTEGER) AS rank, q_id, doc_id, v, rel,
                 max_sim, CAST(FLOOR((0.7 * rel - 0.3 * max_sim)
                   * 1000000 + 0.5) AS BIGINT) AS mmr_micros
               FROM p$k
               QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY
                 CAST(FLOOR((0.7 * rel - 0.3 * max_sim) * 1000000 + 0.5)
                   AS BIGINT) DESC, doc_id) = 1),
             sel$k AS (SELECT * FROM sel${k - 1}
                       UNION ALL SELECT * FROM s$k)"""
        }.mkString(",\n")
        s"""$sqlBatchRetrievalArms,
            fused AS (
              SELECT COALESCE(lex.q_id, vec.q_id) AS q_id,
                COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
                $sqlRrf AS rrf
              FROM lex FULL OUTER JOIN vec
                ON lex.q_id = vec.q_id AND lex.doc_id = vec.doc_id),
            ftop AS (
              SELECT q_id, doc_id FROM fused
              QUALIFY row_number() OVER (PARTITION BY q_id
                ORDER BY rrf DESC, doc_id) <= 10),
            cand AS (
              SELECT f.q_id, f.doc_id, e.v,
                ${sqlCosineCols("e.v", "q.q_v")} AS rel
              FROM ftop f JOIN e ON e.vec_id = f.doc_id
              JOIN qv q ON q.q_id = f.q_id),
            s1 AS (
              SELECT CAST(1 AS INTEGER) AS rank, q_id, doc_id, v, rel,
                CAST(0.0 AS DOUBLE) AS max_sim,
                CAST(FLOOR((0.7 * rel - 0.3 * 0.0)
                  * 1000000 + 0.5) AS BIGINT) AS mmr_micros
              FROM cand
              QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY
                CAST(FLOOR((0.7 * rel - 0.3 * 0.0) * 1000000 + 0.5)
                  AS BIGINT) DESC, doc_id) = 1),
            sel1 AS (SELECT * FROM s1),
            $rounds
            SELECT rank, q_id, doc_id, rel, max_sim, mmr_micros FROM sel3
            ORDER BY q_id, rank"""
      }),

    // ---- RAG context assembly (flagship retrieval composition) ------------
    // The end-to-end context builder a RAG serving path runs per query,
    // composed ENTIRELY from this file's oracle-verified kernels: hybrid
    // RRF candidates (the exact q_hybrid_rrf fused set, top-10) → MMR
    // diversification (mmrSelect, λ=0.7, keep 5, rel = exact cosine to
    // the query) → truncating token-budget fill in MMR rank order (a doc
    // STARTING inside the 192-token budget is kept, clipped to the
    // remaining tokens — ctx_tokens < n_tokens marks the final truncated
    // doc). Output is the context manifest (ctx_rank, doc_id, n_tokens,
    // ctx_tokens) the prompt assembler consumes. Every stage after the two candidate-arm
    // corpus scans runs on ≤ 10-row frames; the budget fill is a window
    // over FIVE rows. The oracle recomputes the full chain — fused arms,
    // the unrolled greedy, the running sum — so the composition's
    // end-to-end exactness is pinned, not argued stage-by-stage.
    Q("q_rag_context",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = embs(s, d).select(col("vec_id"), col("embedding"))
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_v"))
        val cand = fixedHybridFused(s, d)
          .orderBy(col("rrf").desc, col("doc_id")).limit(10)
          .join(e, col("doc_id") === col("vec_id"))
          .crossJoin(broadcast(qv))
          .select(col("doc_id"), col("embedding"),
            cosine(s, col("embedding"), col("q_v")).as("rel"))
        val sel = mmrSelect(s, cand, lambda = 0.7, mu = 0.3, k = 5)
        val tok = Tables(s, d, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
        val w = Window.orderBy("rank")
          .rowsBetween(Window.unboundedPreceding, 0)
        // truncating assembler: a doc whose START is inside the budget is
        // kept, clipped to the remaining tokens (ctx_tokens < n_tokens ⇔
        // this is the final, truncated context doc) — the real prompt-
        // packing rule, not drop-on-overflow
        sel.join(tok, "doc_id")
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
          .withColumn("prior", col("cum_tokens") - col("n_tokens"))
          .filter(col("prior") < 192)
          .select(col("rank").as("ctx_rank"), col("doc_id"),
            col("n_tokens"),
            least(col("n_tokens"), lit(192L) - col("prior"))
              .as("ctx_tokens"))
          .orderBy("ctx_rank")
      },
      Some(s"""$sqlFixedHybridArms,
            fused AS (
              SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
                $sqlRrf AS rrf
              FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id),
            top10 AS (
              SELECT doc_id FROM fused
              ORDER BY rrf DESC, doc_id LIMIT 10),
            cand AS (
              SELECT t.doc_id, e.v,
                ${sqlCosineCols("e.v", "qv.q_v")} AS rel
              FROM top10 t JOIN e ON e.vec_id = t.doc_id, qv),
            $sqlMmrTop5,
            tok AS (
              SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents),
            ctx AS (
              SELECT s.rank AS ctx_rank, s.doc_id, tok.n_tokens,
                CAST(SUM(tok.n_tokens) OVER (ORDER BY s.rank
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) - tok.n_tokens AS prior
              FROM sel5 s JOIN tok USING (doc_id))
            SELECT ctx_rank, doc_id, n_tokens,
              least(n_tokens, 192 - prior) AS ctx_tokens
            FROM ctx WHERE prior < 192 ORDER BY ctx_rank"""))
  )
}
