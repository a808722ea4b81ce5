package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Deduplication operators over `documents`.
  *
  * The reference has no dedup surface at all — its closest analog is a
  * user-supplied reducer over the sorted shuffle stream (reference
  * mapreduce/worker/__main__.py:138-157), which can express exact dedup
  * only. These are the first-class, 100 TB-shaped versions:
  *
  *  - exact dedup: hash-groupBy on a 256-bit content digest — one shuffle
  *    carrying the 32-byte digest, never the text;
  *  - MinHash near-dup: candidates come from an LSH band self-join — the
  *    shuffled rows are (doc_id, band_signature) pairs, bounded by
  *    bands × docs, NEVER the all-pairs cross join. Quadratic work happens
  *    only inside a bucket; exact-Jaccard verification runs only on
  *    candidate pairs. The oracle brute-forces the same definition in
  *    DuckDB (viable at sf0.01) — it matches because the engine output is
  *    (candidates ∩ verified) and band parameters make LSH recall ≈ 1 at
  *    the threshold (r=2, b=64 ⇒ miss prob (1-s²)⁶⁴ < 1e-8 for s ≥ 0.5);
  *  - SimHash: 32-bit signature whose bit j is the sign of the token vote
  *    Σ(±1), the ±1 taken from the j-th hex char of the token's MD5. Pure
  *    string ops, so Spark and DuckDB compute bit-identical signatures.
  */
object Dedup {

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")

  /** (doc_id, sh): distinct 3-token shingles of the document text. */
  private def shingled(df: DataFrame): DataFrame = df
    .withColumn("toks", split(col("text"), " "))
    .filter(size(col("toks")) >= 3)
    .withColumn("sh", array_distinct(
      transform(sequence(lit(0), size(col("toks")) - 3),
        i => concat_ws(" ", slice(col("toks"), i + 1, lit(3))))))
    .select(col("doc_id"), col("sh"))

  /** DuckDB twin of [[shingled]] as SELECT text over `<src>` — ONE
    * definition interpolated into every shingle-based oracle, so the
    * engine and oracle shingle rules cannot drift apart per query. */
  private def sqlShingled(src: String): String =
    s"""SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
          FOR i IN generate_series(1, len(toks) - 2)]) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM $src)
        WHERE len(toks) >= 3"""

  /** DuckDB twin of [[simhash32]] as CTE text over `<src>`: defines `t`,
    * `v` (per-position votes) and `sig(doc_id, simhash)`. */
  private def sqlSimhash32(src: String): String =
    s"""t AS (
          SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
          FROM $src),
        v AS (
          SELECT doc_id,
            [list_sum([CASE WHEN substr(md5(tok), j, 1)
                        IN ('8','9','a','b','c','d','e','f')
                       THEN 1 ELSE -1 END FOR tok IN toks])
             FOR j IN generate_series(1, 32)] AS votes
          FROM t),
        sig AS (
          SELECT doc_id,
            CAST(list_sum([CASE WHEN votes[j] > 0 THEN 2**(j-1) ELSE 0 END
                  FOR j IN generate_series(1, 32)]) AS BIGINT) AS simhash
          FROM v)"""

  /** Exact Jaccard similarity of two string-array columns (distinct sets),
    * floor-micro quantized (see [[Arith.micro6]]: an intersect/union count
    * ratio like 9/640 terminates with a 5 in the 7th decimal while being
    * binary-inexact — exactly the boundary where round(x, 6) diverges
    * cross-engine). */
  private def jaccard(a: Column, b: Column): Column =
    Arith.micro6(size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)))

  /** DuckDB twin of [[jaccard]] over two shingle-list expressions. */
  private def sqlJaccard(a: String, b: String): String =
    Arith.sqlMicro6(s"""len(list_intersect($a, $b))::DOUBLE /
              len(list_distinct(list_concat($a, $b)))""")

  // MinHash: NumHashes hash functions via Kirsch-Mitzenmacher double
  // hashing (h_i = h1 + i·h2 over the two 64-bit lanes of MurmurHash3
  // x64-128). Only candidate RECALL depends on these hashes
  // (verification is exact Jaccard), so cross-engine hash parity is not
  // required — the oracle never sees the signatures — and the mixer can
  // be the cheap one: Murmur3 is ~10× faster per shingle than the MD5 it
  // replaced, on the hottest loop of five dedup queries. Computed in a
  // typed map: the 128 × |shingles| multiply-adds per row run as native
  // loops (the HOF equivalent is CodegenFallback and ~100× slower), and
  // the signature never shuffles — only the ~16-byte (doc_id, band)
  // rows do.
  private val NumHashes = 128
  private val BandRows  = 2 // r=2 → b=64 bands

  private def fmix64(v: Long): Long = {
    var k = v
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }

  private def littleLong(d: Array[Byte], off: Int): Long = {
    var k = 0L
    var j = 7
    while (j >= 0) { k = (k << 8) | (d(off + j) & 0xffL); j -= 1 }
    k
  }

  /** MurmurHash3 x64-128 (Austin Appleby's reference algorithm, public
    * domain) over a byte array: two full-entropy 64-bit lanes for the
    * Kirsch–Mitzenmacher family.
    *
    * Hand-rolled rather than Guava's `Hashing.murmur3_128()` (same
    * algorithm, same classpath) because Guava's Hasher/HashCode API
    * allocates two objects plus a byte array PER CALL — this runs once
    * per shingle on the hottest dedup loop, where a (Long, Long) return
    * stays allocation-free after escape analysis. DedupSpec pins it
    * byte-identical to the Guava implementation on every tail/block
    * path, so the duplication cannot silently drift. */
  private[graft] def murmur128(data: Array[Byte]): (Long, Long) = {
    val c1 = 0x87c37b91114253d5L
    val c2 = 0x4cf5ad432745937fL
    var h1 = 0L
    var h2 = 0L
    val nblocks = data.length / 16
    var i = 0
    while (i < nblocks) {
      var k1 = littleLong(data, i * 16)
      var k2 = littleLong(data, i * 16 + 8)
      k1 *= c1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= c2; h1 ^= k1
      h1 = java.lang.Long.rotateLeft(h1, 27); h1 += h2
      h1 = h1 * 5 + 0x52dce729L
      k2 *= c2; k2 = java.lang.Long.rotateLeft(k2, 33); k2 *= c1; h2 ^= k2
      h2 = java.lang.Long.rotateLeft(h2, 31); h2 += h1
      h2 = h2 * 5 + 0x38495ab5L
      i += 1
    }
    val tail = nblocks * 16
    val rem = data.length & 15
    if (rem > 8) {
      var k2 = 0L
      var j = rem - 1
      while (j >= 8) { k2 = (k2 << 8) | (data(tail + j) & 0xffL); j -= 1 }
      k2 *= c2; k2 = java.lang.Long.rotateLeft(k2, 33); k2 *= c1; h2 ^= k2
    }
    if (rem > 0) {
      var k1 = 0L
      var j = math.min(rem, 8) - 1
      while (j >= 0) { k1 = (k1 << 8) | (data(tail + j) & 0xffL); j -= 1 }
      k1 *= c1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= c2; h1 ^= k1
    }
    h1 ^= data.length.toLong; h2 ^= data.length.toLong
    h1 += h2; h2 += h1
    h1 = fmix64(h1); h2 = fmix64(h2)
    h1 += h2; h2 += h1
    (h1, h2)
  }

  /** (doc_id, band) — one row per band; band = (index, mixed minhashes). */
  private def minhashBands(s: SparkSession, sh: DataFrame): DataFrame = {
    import s.implicits._
    val numBands = NumHashes / BandRows
    sh.select(col("doc_id"), col("sh")).as[(Long, Array[String])]
      .map { case (id, shingles) =>
        val mins = Array.fill(NumHashes)(Long.MaxValue)
        var si = 0
        while (si < shingles.length) {
          // two independent 64-bit lanes from the shingle's Murmur3-128:
          // full-entropy base hashes keep the Kirsch-Mitzenmacher family
          // h_i = h1 + i·h2 close to min-wise independent (32-bit bases
          // demonstrably lose recall at the 0.5 threshold).
          val (h1, h2) = murmur128(
            shingles(si).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // h_i = h1 + i·h2 by running addition (same wrapping Long
          // arithmetic as the multiply, one add per hash instead)
          var h = h1
          var i = 0
          while (i < NumHashes) {
            if (h < mins(i)) mins(i) = h
            h += h2
            i += 1
          }
          si += 1
        }
        val bands = new Array[Long](numBands)
        var b = 0
        while (b < numBands) {
          // mix the r=2 minhashes; a 64-bit mix collision only adds a
          // candidate pair, which exact-Jaccard verification discards
          bands(b) = mins(2 * b) * 0x9e3779b97f4a7c15L + mins(2 * b + 1)
          b += 1
        }
        (id, bands)
      }
      .toDF("doc_id", "bands")
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("idx", "sig")))
      .select(col("doc_id"), struct(col("idx"), col("sig")).as("band"))
  }

  /** Distinct candidate pairs (a_id < b_id) sharing at least one band. */
  private def lshCandidates(banded: DataFrame): DataFrame = banded
    .select(col("doc_id").as("a_id"), col("band"))
    .join(banded.select(col("doc_id").as("b_id"), col("band")), Seq("band"))
    .filter(col("a_id") < col("b_id"))
    .select("a_id", "b_id")
    .dropDuplicates("a_id", "b_id")

  /** SimHash over exploded (token, hex-position) votes — fully codegen'd,
    * partial aggregation map-side, two tiny shuffles (docs × 32 rows, then
    * docs rows). Bit j of the signature is the sign of Σ_tokens (±1), the
    * ±1 from hex char j of the token's MD5 (high bit set ⇔ char ∈ 8..f);
    * 2^j stays exact in double up to j=31, so the pow() pack matches
    * DuckDB's 2**(j-1) arithmetic exactly. */
  private def simhash32(df: DataFrame): DataFrame = df
    // graft.functions.SimHash32: one native per-document loop, ZERO
    // shuffles — replaces the explode(tokens)×32-hex-char double
    // aggregation formulation, which shuffled docs×tokens×32 rows twice.
    // The DuckDB oracles still spell out the declarative definition, so
    // the compare pins the native kernel against it.
    .select(col("doc_id"),
      graft.functions.SimHash32(df.sparkSession, col("text")).as("simhash"))

  /** Symmetrized edge list of a pair frame — the pre-checkpoint frame
    * [[connectedComponents]] materializes as its round-0 edge table. The
    * union reads `pairs` twice, so the loop hands it a MATERIALIZED pair
    * frame; over a lazy one each branch would re-evaluate the pair
    * subtree above its topmost reused exchange. PlanSpec pins that the
    * subtree is evaluated once. */
  private[graft] def ccEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))

  /** Connected components by iterative min-label propagation: each node
    * adopts the smallest id reachable over the near-dup edges; O(diameter)
    * rounds, each one shuffle over the EDGE list (never all-pairs). Near-
    * dup graphs have tiny components, so this converges in 2-3 rounds; for
    * adversarial long chains swap in large-star/small-star (same join
    * shape, O(log n) rounds).
    *
    * @param checkpointEvery  durability of the per-round materialization —
    *                         see [[Materialize.land]]
    */
  def connectedComponents(pairs: DataFrame,
      checkpointEvery: Option[Int] = None): DataFrame = {
    // materialize the PAIR list before symmetrizing — the union's two
    // branches would each re-evaluate the LSH front's verify joins +
    // exact-Jaccard filter above its topmost exchange (ReusedExchange
    // shares only the shuffle files, not the post-shuffle operators). One
    // extra tiny (a_id, b_id) materialization buys the whole front
    // running once; freed as soon as the edge table lands.
    val p = Materialize.land(pairs.select(col("a_id"), col("b_id")),
      0, checkpointEvery).df
    // Edges stay NOT pre-partitioned on the round-join key: CC converges
    // in 2-3 rounds, so a pre-partitioning exchange plus a bigger
    // materialization costs more than the few edge exchanges it would
    // save (both forms measured slower; numbers in BENCH_NOTES).
    val edges = Materialize.land(ccEdges(p), 0, checkpointEvery).df
    Materialize.free(p)
    val maxRounds = 50
    var changed = 0L
    val last = Materialize.untilStable(
      Materialize.land(edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")), 0, checkpointEvery),
      maxRounds, checkpointEvery)(r => ccRound(edges, ccLabels(r))) {
      (_, next) =>
        changed = next.filter(col("new_label") < col("label")).count()
        changed == 0
    }.getOrElse(
      // a silent cap would return WRONG cluster ids for a >50-diameter
      // chain; near-dup graphs never get close, so treat hitting it as a
      // bug signal (connectedComponentsStar is the O(log n) fix)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds " +
          s"($changed labels still changing) — component diameter too " +
          "large for min-label propagation"))
    // the returned labels are a projection over the FINAL round only —
    // the edge list is dead once the loop exits, and without this every
    // CC-based query would pin an edge list of blocks until session end
    Materialize.free(edges)
    ccLabels(last)
  }

  /** A min-label round's (id, label) view: the seed round is one;
    * [[ccRound]]'s output carries its new label beside the old. */
  private def ccLabels(round: DataFrame): DataFrame =
    if (round.columns.contains("new_label"))
      round.select(col("id"), col("new_label").as("label"))
    else round

  /** One min-label-propagation round — the loop body of
    * [[connectedComponents]]. Round inputs are checkpointed, so the
    * registered queries' final plans can't show the round join; PlanSpec
    * pins it by planning this body directly.
    *
    * SHUFFLE_HASH on the O(V) labels side (the graph scale laws' lesson,
    * measured in the pagerank loop at ×100: sort-merge re-sorts the
    * O(E) side every round — 63 GB of spill); hash-build the
    * per-partition V/P label slice, stream the edge frame sort-free. */
  private[graft] def ccRound(edges: DataFrame,
      labels: DataFrame): DataFrame = edges
    .join(labels.withColumnRenamed("id", "dst")
      .withColumnRenamed("label", "dst_label").hint("shuffle_hash"),
      "dst")
    .groupBy(col("src").as("id"))
    .agg(min(col("dst_label")).as("nbr_min"))
    .join(labels, "id")
    .withColumn("new_label", least(col("label"), col("nbr_min")))

  /** Canonical (hi, lo) edge form shared by [[connectedComponentsStar]]
    * and [[starRound]]. */
  private def canon(df: DataFrame): DataFrame = df
    .select(greatest(col("a"), col("b")).as("hi"),
      least(col("a"), col("b")).as("lo"))
    .filter(col("hi") =!= col("lo"))
    .distinct()

  /** One large-star + small-star round — the loop body of
    * [[connectedComponentsStar]]; PlanSpec pins its round joins by
    * planning this body directly.
    *
    * large-star: Γ as both directions; m(u) = min(Γ(u) ∪ u); emit
    * (v, m(u)) for v > u. small-star over the large-star output: emit
    * (v, m(u)) for v ≤ u plus (u, m(u)) — reuse of the large-star mn
    * would be stale, recompute on `large`. SHUFFLE_HASH on the O(V)
    * min-neighbor side, both star halves — same reasoning as the
    * min-label loop above. */
  private[graft] def starRound(edges: DataFrame): DataFrame = {
    val nbrs = edges.select(col("hi").as("u"), col("lo").as("v"))
      .union(edges.select(col("lo").as("u"), col("hi").as("v")))
    val mn = nbrs.groupBy("u")
      .agg(least(min(col("v")), first(col("u"))).as("m"))
    val large = canon(nbrs.join(mn.hint("shuffle_hash"), "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("a"), col("m").as("b")))
    val nbrs2 = large.select(col("hi").as("u"), col("lo").as("v"))
      .union(large.select(col("lo").as("u"), col("hi").as("v")))
    val mn2 = nbrs2.groupBy("u")
      .agg(least(min(col("v")), first(col("u"))).as("m"))
    canon(nbrs2.join(mn2.hint("shuffle_hash"), "u")
      .filter(col("v") <= col("u"))
      .select(col("v").as("a"), col("m").as("b"))
      .union(mn2.select(col("u").as("a"), col("m").as("b"))))
  }

  /** Connected components by alternating large-star/small-star rounds —
    * O(log n) rounds regardless of component DIAMETER (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14), where
    * [[connectedComponents]]' min-label propagation is O(diameter). Same
    * output contract: (id, label) with label = component minimum.
    *
    * Each round is two groupBy-min + join passes over the edge list —
    * no collect_list (a high-degree node never materializes its
    * neighborhood), so a 10⁹-edge graph runs in bounded task memory:
    *  - large-star: every neighbor v > u re-attaches to m(u) =
    *    min(Γ(u) ∪ u) — long chains collapse exponentially;
    *  - small-star: every neighbor v ≤ u (and u itself) attaches to m(u),
    *    canonicalizing each component toward a star rooted at its minimum.
    * Fixpoint when the edge set stops changing; the star edges then ARE
    * the (id, label) map.
    *
    * @param checkpointEvery  durability of the per-round materialization —
    *                         see [[Materialize.land]]
    */
  def connectedComponentsStar(pairs: DataFrame,
      checkpointEvery: Option[Int] = None): DataFrame = {
    // undirected edge list as canonical (hi, lo) pairs
    val first = Materialize.land(
      canon(pairs.select(col("a_id").as("a"), col("b_id").as("b"))),
      0, checkpointEvery)
    val ids = Materialize.land(first.df
      .select(explode(array(col("hi"), col("lo"))).as("id")).distinct(),
      0, checkpointEvery).df
    val maxRounds = 50
    // carry the edge count across rounds: this round's edges ARE last
    // round's result, so re-counting them would be one O(E) scan job per
    // round for a number already in hand
    var edgeCount = first.df.count()
    val edges = Materialize.untilStable(first, maxRounds, checkpointEvery)(
      starRound) { (prev, small) =>
      // fixpoint test: same canonical edge set. The count equality guard
      // is load-bearing at scale: counts are shuffle-free scans over the
      // materialized sets and differ in every NON-stable round, so the
      // set-comparison join (which exchanges both full edge lists) runs
      // only in the one round that actually converged. Given equal counts
      // and distinct sets, small∖prev = ∅ ⟺ equality.
      val smallCount = small.count()
      val same = smallCount == edgeCount &&
        small.join(prev, Seq("hi", "lo"), "left_anti").isEmpty
      edgeCount = smallCount
      same
    }.getOrElse(throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxRounds rounds"))
    // converged: every component is a star rooted at its minimum — each
    // node's single neighbor IS its label; roots label themselves. The
    // label extraction below ASSUMES the star shape (each hi paired with
    // exactly one lo); if a stable non-star edge set ever arose (our
    // small-star takes the min over the FULL neighborhood, a deviation
    // from the Kiveris et al. ≤-neighbors formulation), the left join
    // would silently emit duplicate (id, label) rows — so verify the
    // invariant cheaply and fail loud, matching the round-cap posture.
    val nonStar = edges.count() - edges.select("hi").distinct().count()
    if (nonStar != 0)
      throw new IllegalStateException(
        s"connectedComponentsStar converged to a non-star edge set " +
          s"($nonStar nodes with multiple neighbors) — label extraction " +
          "would be ambiguous")
    val labels = edges.select(col("hi").as("id"), col("lo").as("label"))
    ids.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Synchronous label propagation over an undirected edge list
    * `edges(a_id, b_id)` starting from `nodes(v)` with lbl = v: each of
    * `rounds` rounds reassigns every node the mode over its neighbors'
    * labels PLUS ITS OWN (self-inclusive voting — the standard
    * deterministic damping: pure neighbor-voting sync LPA oscillates
    * forever on any isolated 2-clique, the two nodes swapping labels
    * each round, which the GraphSpec fixed-point pin caught live on the
    * near-dup corpus), ties to the SMALLEST label; isolated nodes keep
    * their own label (their self-vote is the whole electorate). The
    * q_graph_lpa kernel, factored so GraphSpec can pin the
    * tie/split/fixed-point semantics on planted graphs. Returns
    * (v, lbl). */
  private[graft] def lpaRounds(nodes: DataFrame, edges: DataFrame,
      rounds: Int): DataFrame = {
    // The adjacency stays a lazy rebuild (three narrow projections over
    // the caller's checkpointed pairs), NOT materialized or
    // pre-partitioned: materializing the 2E+V rows costs more than a few
    // rounds of exchange save and forfeits AQE's readers on the round
    // joins (measured slower; numbers in BENCH_NOTES).
    val adj = edges.select(col("a_id").as("v"), col("b_id").as("u"))
      .unionByName(edges.select(col("b_id").as("v"), col("a_id").as("u")))
      .unionByName(nodes.select(col("v"), col("v").as("u")))
    val first = Materialize.borrowed(nodes.select(col("v"), col("v").as("lbl")))
    Materialize.rounds(first, rounds)(lpaRound(adj, _))
      .foldLeft(first.df)((_, lab) => lab)
  }

  /** One LPA round — the loop body of [[lpaRounds]]; PlanSpec pins its
    * round join by planning this body directly.
    *
    * SHUFFLE_HASH on the O(V) label side, same reasoning as the
    * pagerank loop: sort-merge would re-sort the O(E) adjacency
    * every round (measured 20.6 GB of sort spill at ×100 in the graph
    * scale laws); hash-building the per-partition label slice
    * streams adj sort-free, and the build side is the frame that
    * does not grow with |E|. */
  private[graft] def lpaRound(adj: DataFrame, lab: DataFrame): DataFrame = {
    val mode = adj
      .join(lab.select(col("v").as("u"), col("lbl").as("u_lbl"))
        .hint("shuffle_hash"), "u")
      .groupBy("v", "u_lbl").agg(count(lit(1)).as("c"))
      .groupBy("v")
      .agg(max_by(col("u_lbl"),
        struct(col("c"), (-col("u_lbl")).as("neg"))).as("new_lbl"))
    lab.join(mode, Seq("v"), "left")
      .select(col("v"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
  }

  /** Verified near-dup pairs (a_id, b_id): LSH candidates filtered by exact
    * Jaccard ≥ 0.5 — the shared front half of both clustering rows. */
  private[graft] def nearDupPairs(s: SparkSession,
      d: String): DataFrame = {
    val sh = shingled(docs(s, d)).localCheckpoint()
    lshCandidates(minhashBands(s, sh))
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("jac", jaccard(col("a_sh"), col("b_sh")))
      .filter(col("jac") >= 0.5)
      .select("a_id", "b_id")
  }

  /** Incremental (batch-vs-corpus) dedup core — factored out of the
    * q_dedup_incremental registration so DedupSpec can drive it with
    * planted frames. Drop priority: exact_corpus > exact_batch >
    * near_corpus > near_batch. `near_batch` drops a batch doc that
    * near-dups (minhash-band candidates, exact-Jaccard ≥ 0.5 verify) an
    * EARLIER batch doc — the min-id representative convention
    * q_dedup_exact's keep-first and the CC min-label rule already use —
    * regardless of whether that earlier doc itself survives:
    * non-recursive, so no iteration and an exact SQL oracle. Scale shape:
    * candidate generation shuffles only 32-byte digests and band keys
    * (batch bands ⋈ corpus bands + batch-band self-join), never text;
    * the exact-Jaccard verifies join candidate ids back to the shingle
    * tables — the same verify cost q_dedup_minhash pays. */
  def incrementalDedup(s: SparkSession, batch: DataFrame,
      corpus: DataFrame): DataFrame = {
    // EXACT-FIRST discipline (the ×10000 corpus-stream lesson, r17 —
    // see corpusStreamBatch below): shingle/minhash and BOTH near-dup
    // candidate passes run on one REPRESENTATIVE per distinct batch
    // text. Banding every exact copy makes the intra-batch LSH buckets
    // quadratic in the per-batch duplication factor (measured in the
    // streaming twin as a >69 GB spill that filled the box at ~156
    // copies/text), while the verdicts are INVARIANT to the
    // restriction: a non-representative's reason is exact_corpus /
    // exact_batch before any near flag is consulted, and every
    // (repX, repY) band collision a dropped copy would have produced
    // survives through the representatives' identical band keys —
    // the rep is the MIN doc_id per hash, so any a<b candidate pair a
    // copy produced has a rep-pair with rep_a ≤ a < b still present.
    // Pinned by DedupSpec's with/without-restriction verdict equality
    // on a planted high-duplication frame.
    val bHash = batch
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      // checkpointed: consumed by the rep claim pass AND the verdict
      // assembly in incrementalDedupPre
      .localCheckpoint()
    // groupBy-argmin, not a window over h: a Zipf-giant exact-duplicate
    // cluster would land on ONE window task; the partial min shuffles
    // one row per distinct hash per map partition instead
    val repIds = bHash.groupBy("h")
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val bSh = shingled(batch.join(repIds, "doc_id")).localCheckpoint()
    val cSh = shingled(corpus).localCheckpoint()
    incrementalDedupPre(s,
      bHash,
      bSh,
      // checkpointed: consumed by BOTH the corpus band-join and the
      // batch-internal self-join below — without it the minhash kernel
      // runs twice over the batch
      minhashBands(s, bSh).localCheckpoint(),
      corpus.select(sha2(col("text"), 256).as("h")).distinct(),
      cSh, minhashBands(s, cSh))
      .orderBy("doc_id")
  }

  /** Test-only: the PRE-r18 unrestricted arm — full-batch shingle/band
    * frames straight into [[incrementalDedupPre]], no exact-first rep
    * restriction. DedupSpec pins verdict equality against
    * [[incrementalDedup]] on a planted high-duplication frame, which is
    * the invariance argument the restriction rests on made executable. */
  private[graft] def incrementalDedupUnrestrictedForTest(s: SparkSession,
      batch: DataFrame, corpus: DataFrame): DataFrame = {
    val bSh = shingled(batch).localCheckpoint()
    val cSh = shingled(corpus).localCheckpoint()
    incrementalDedupPre(s,
      batch.select(col("doc_id"), sha2(col("text"), 256).as("h")),
      bSh, minhashBands(s, bSh).localCheckpoint(),
      corpus.select(sha2(col("text"), 256).as("h")).distinct(),
      cSh, minhashBands(s, cSh))
      .orderBy("doc_id")
  }

  /** [[incrementalDedup]] over PRE-materialized batch/corpus state —
    * the streaming curation arm persists the corpus side's hashes,
    * shingle sets and band keys per micro-batch, so re-deriving them
    * from text every batch (one full minhash pass over the whole corpus
    * per batch, quadratic over the stream's life) never happens. Band
    * keys are doc-local (fixed Kirsch-Mitzenmacher constants), so a
    * band computed when a doc was the BATCH side collides with later
    * batches exactly as a globally-computed band would. Frames:
    * bHash(doc_id, h), bSh/cSh(doc_id, sh), bBands/cBands(doc_id, band),
    * cHash(h). */
  private[graft] def incrementalDedupPre(s: SparkSession, bHash: DataFrame,
      bSh: DataFrame, bBands: DataFrame, cHash0: DataFrame,
      cSh: DataFrame, cBands: DataFrame): DataFrame = {
    val cHash = cHash0.distinct().withColumn("in_corpus", lit(1L))
    val nearHit = bBands
      .select(col("doc_id").as("b_id"), col("band"))
      .join(cBands
        .select(col("doc_id").as("c_id"), col("band")), Seq("band"))
      .select("b_id", "c_id").dropDuplicates("b_id", "c_id")
      .join(bSh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")),
        "b_id")
      .join(cSh.select(col("doc_id").as("c_id"), col("sh").as("c_sh")),
        "c_id")
      .filter(jaccard(col("b_sh"), col("c_sh")) >= 0.5)
      .select(col("b_id").as("doc_id")).distinct()
      .withColumn("near_corpus", lit(1L))
    val nearBatch = lshCandidates(bBands)
      .join(bSh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")),
        "a_id")
      .join(bSh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")),
        "b_id")
      .filter(jaccard(col("a_sh"), col("b_sh")) >= 0.5)
      .select(col("b_id").as("doc_id")).distinct()
      .withColumn("near_batch", lit(1L))
    // first_id via groupBy-argmin + a NULL-SAFE join, not a window over
    // h: window partitionBy("h") puts a Zipf-giant exact-duplicate
    // cluster on ONE task (no AQE skew split for windows), while the
    // groupBy's map-side partial min shuffles one row per distinct hash
    // per map partition and the join IS skew-splittable. <=> because a
    // NULL text hashes to NULL and window semantics group the NULL
    // hashes together — a plain equi-join would drop those rows (the
    // oracle's window form pins this).
    val firstIds = bHash.groupBy("h")
      .agg(min(col("doc_id")).as("first_id"))
      .select(col("h").as("__fi_h"), col("first_id"))
    bHash
      .join(cHash, Seq("h"), "left")
      .join(firstIds, col("h") <=> col("__fi_h"))
      .drop("__fi_h")
      .join(nearHit, Seq("doc_id"), "left")
      .join(nearBatch, Seq("doc_id"), "left")
      .withColumn("reason",
        when(col("in_corpus").isNotNull, "exact_corpus")
          .when(col("doc_id") > col("first_id"), "exact_batch")
          .when(col("near_corpus").isNotNull, "near_corpus")
          .when(col("near_batch").isNotNull, "near_batch")
          .otherwise("kept"))
      .withColumn("keep", col("reason") === "kept")
      .select(col("doc_id"), col("keep"), col("reason"))
  }
  // ^ no determinism sort HERE: the streaming arm consumes the verdict
  // frame with filters/joins only, and its per-batch orderBy was a range
  // exchange + sort paid once per micro-batch for nothing (r19). The
  // batch row adds its own output sort below.

  /** The recursive transitive-closure CTE chain ending in
    * `labels(doc_id, cluster_id)` — shared by the clustering rows and
    * the quality-aware representative row (must follow a
    * `WITH RECURSIVE`). */
  private lazy val sqlClusterLabelCtes: String =
    s"""sh AS (${sqlShingled("documents")}),
       pairs AS (
         SELECT a.doc_id AS a_id, b.doc_id AS b_id
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE ${sqlJaccard("a.sh", "b.sh")} >= 0.5),
       edges AS (
         SELECT a_id AS src, b_id AS dst FROM pairs
         UNION SELECT b_id, a_id FROM pairs),
       reach(src, dst) AS (
         SELECT src, dst FROM edges
         UNION
         SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         WHERE r.src <> e.dst),
       labels AS (
         SELECT src AS doc_id,
           CAST(LEAST(src, MIN(dst)) AS BIGINT) AS cluster_id
         FROM reach GROUP BY src)"""

  /** Shared oracle for both clustering rows — brute-forced pairs + a
    * recursive transitive closure; the component minimum is the label, so
    * min-label propagation and large-star/small-star both match it. */
  private lazy val ClustersOracleSql: String =
    s"""WITH RECURSIVE $sqlClusterLabelCtes
       SELECT doc_id, cluster_id, (doc_id = cluster_id) AS keep
       FROM labels ORDER BY doc_id"""

  /** The clustering rows' shared back half: components → (doc_id,
    * cluster_id, keep) with the cluster minimum as the survivor. */
  private def clusterOutput(labels: DataFrame): DataFrame = labels
    .select(col("id").as("doc_id"), col("label").as("cluster_id"),
      (col("id") === col("label")).as("keep"))
    .orderBy("doc_id")

  /** The embedding near-dup rows' output: every vector of `e` with its
    * connected-component cluster over `edges` (a_id, b_id), singletons
    * their own cluster, the minimum vec_id kept. */
  private def embedClusters(e: DataFrame, edges: DataFrame): DataFrame = {
    val labels = connectedComponents(edges)
      .withColumnRenamed("id", "vec_id")
    e.select(col("vec_id")).join(labels, Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("label"), col("vec_id")))
      .withColumn("keep", col("vec_id") === col("cluster_id"))
      .select("vec_id", "cluster_id", "keep")
      .orderBy("vec_id")
  }

  /** [[embedClusters]]' oracle over an edge CTE `p` (a_id, b_id): a
    * recursive transitive closure seeded with every vec_id of `seed`. */
  private def embedClusterSql(seed: String): String = s"""edges AS (
                SELECT a_id AS a, b_id AS b FROM p
                UNION SELECT b_id, a_id FROM p),
              r(id, n) AS (
                SELECT vec_id, vec_id FROM $seed
                UNION
                SELECT r.id, edges.b FROM r JOIN edges ON r.n = edges.a)
              SELECT id AS vec_id, MIN(n) AS cluster_id,
                (MIN(n) = id) AS keep
              FROM r GROUP BY id ORDER BY vec_id"""

  /** Pipeline stage 0: the four curation columns + tokenization. Shared
    * by the batch chain and the streaming arm so the two can't drift. */
  private def corpusD0(in: DataFrame): DataFrame = in
    .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
    .withColumn("toks", split(lower(col("text")), " "))
    .withColumn("n_tokens", size(col("toks")).cast("long"))

  /** Pipeline stage 2: the quality gate over a stage-1 frame (expects
    * [[corpusD0]]'s toks/n_tokens columns); emits the four curation
    * columns of the survivors. */
  private def corpusQuality(s1: DataFrame): DataFrame = {
    val stop = Seq("a", "the", "of", "and", "to", "in")
    s1
      .withColumn("mean_word_len",
        Arith.micro6((col("n_chars") - col("n_tokens") + 1).cast("double") /
          col("n_tokens")))
      .withColumn("stop_ratio",
        Arith.micro6(size(filter(col("toks"), t => t.isin(stop: _*)))
          .cast("double") / col("n_tokens")))
      .withColumn("quality", Arith.micro6(
        least(col("n_tokens").cast("double") / 100, lit(1.0)) * 0.5 +
          when(col("mean_word_len").between(3.0, 10.0), 0.3)
            .otherwise(0.0) +
          when(col("stop_ratio") > 0.02, 0.2).otherwise(0.0)))
      .filter(col("quality") >= 0.5)
      .select("doc_id", "source", "n_chars", "text")
  }

  /** The token-budget prior: per-source running n_chars total in
    * md5-priority order (deterministic, cluster-size independent). The
    * r14 form was a per-source window — one task per source at 100 TB;
    * now it is PrefixSum.md5BudgetPrior (256 order-prefix shards +
    * broadcast offsets), held to the unchanged DuckDB oracle by the
    * q_corpus_pipeline / q_stream_corpus_pipeline / q_sample_budget_shard
    * correctness rows. */
  private def budgetPrior(df: DataFrame): DataFrame =
    graft.plans.PrefixSum.md5BudgetPrior(df, col("n_chars"))

  /** The batch pipeline's stage frames in order: (ord, name, frame) for
    * input / minlen / quality / exact_dedup / near_dedup / token_budget.
    * Factored out of [[corpusPipeline]] so the feed-order spec can hold
    * the STREAMING arm's survivor set to stage 4's frame — the identity
    * the incremental == batch equivalence is actually about (the stage
    * COUNTS can coincide under a survivor swap). */
  private[graft] def corpusStageFrames(s: SparkSession,
      in: DataFrame): Seq[(Int, String, DataFrame)] = {
    import org.apache.spark.sql.expressions.Window
    val d0 = corpusD0(in).localCheckpoint()
    val s1 = d0.filter(col("n_tokens") >= 12)
    val s2 = corpusQuality(s1)
    val s3 = s2
      .withColumn("first_id", min(col("doc_id"))
        .over(Window.partitionBy(sha2(col("text"), 256))))
      .filter(col("doc_id") === col("first_id"))
      .drop("first_id").localCheckpoint()
    val sh3 = shingled(s3).localCheckpoint()
    val nearDrop = lshCandidates(minhashBands(s, sh3))
      .join(sh3.select(col("doc_id").as("a_id"), col("sh").as("a_sh")),
        "a_id")
      .join(sh3.select(col("doc_id").as("b_id"), col("sh").as("b_sh")),
        "b_id")
      .filter(jaccard(col("a_sh"), col("b_sh")) >= 0.5)
      .select(col("b_id").as("doc_id")).distinct()
    val s4 = s3.join(nearDrop, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val s5 = budgetPrior(s4).filter(col("prior") < 5000L)
    Seq((0, "input", d0), (1, "minlen", s1), (2, "quality", s2),
      (3, "exact_dedup", s3), (4, "near_dedup", s4),
      (5, "token_budget", s5))
  }

  /** q_corpus_pipeline's stage chain over an arbitrary
    * (doc_id, source, n_chars, text) frame — parameterized so DedupSpec
    * can run it on a PLANTED frame and watch the exact-dedup stage drop
    * duplicates in composition (the driver corpus has no exact dups, so
    * that stage never binds in the registry row itself). */
  private[graft] def corpusPipeline(s: SparkSession,
      in: DataFrame): DataFrame = {
    def cnt(ord: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(ord).as("stage_ord"), lit(name).as("stage"),
          col("n_docs"))
    corpusStageFrames(s, in)
      .map { case (ord, name, df) => cnt(ord, name, df) }
      .reduce(_ unionByName _)
      .orderBy("stage_ord")
  }

  val queries: Seq[Q] = Seq(

    // ---- keep-latest-version dedup ---------------------------------------
    // The snapshotting half of dedup: a corpus re-crawls the same logical
    // record many times and only the most recent version should survive.
    // One shuffle on the logical key, one ordered pass (row_number = 1) —
    // never a self-join against max(ts), whose intermediate is the whole
    // version history per key twice. The tiebreak column makes "latest"
    // total, so the survivor set is deterministic under same-ts versions.
    Q("q_dedup_latest",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "event_type")
          .orderBy(col("ts").desc, col("event_id").desc)
        Tables(s, d, "events")
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("user_id"), col("event_type"), col("event_id"),
            col("value"))
          .orderBy("user_id", "event_type")
      },
      // order by the MICROSECOND-truncated time like the Spark reader
      // (raw nanosecond order could pick a different survivor for two
      // versions inside the same microsecond)
      Some("""SELECT user_id, event_type, event_id, value
              FROM events
              QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
                  event_id DESC) = 1
              ORDER BY user_id, event_type""")),

    // ---- exact dedup ------------------------------------------------------
    Q("q_dedup_exact",
      (s, d) => docs(s, d)
        .groupBy(sha2(col("text"), 256).as("text_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
        .orderBy("keep_id"),
      Some("""SELECT sha256(text) AS text_hash, COUNT(*) AS n_copies,
              MIN(doc_id) AS keep_id
              FROM documents GROUP BY sha256(text) ORDER BY keep_id""")),

    // ---- soft dedup (duplication-count downweighting) ----------------------
    // The non-destructive alternative to q_dedup_exact: instead of dropping
    // duplicates, every copy keeps weight 1/n_copies so the CLUSTER
    // contributes one document's worth of gradient regardless of crawl
    // multiplicity (the D4/data-constrained-scaling recipe — repeated data
    // is downweighted, not discarded, preserving any unique context around
    // the duplicated body). Emits the per-doc sampling weight in ppm plus
    // the effective token count in micro-tokens — both exact integer floor
    // division, so the training-mix accounting that consumes them sums
    // exactly on both engines. Scale shape: the text is hashed IN the scan
    // and only (digest, n_words) shuffles — one partial-aggregated groupBy
    // on the digest and one digest equi-join back; a Zipf-giant duplicate
    // cluster is one aggregate row, and text never leaves the scan.
    Q("q_soft_dedup",
      (s, d) => {
        val t = docs(s, d).select(col("doc_id"),
          sha2(col("text"), 256).as("h"),
          size(split(col("text"), " ")).cast("long").as("n_words"))
        val cnts = t.groupBy("h").agg(count(lit(1)).as("n_copies"))
        t.join(cnts, "h")
          .withColumn("weight_ppm", expr("1000000L div n_copies"))
          .withColumn("eff_tokens_micro",
            expr("n_words * 1000000L div n_copies"))
          .select(col("doc_id"), col("n_copies"), col("n_words"),
            col("weight_ppm"), col("eff_tokens_micro"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id, sha256(text) AS h,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
                FROM documents),
              c AS (SELECT h, COUNT(*) AS n_copies FROM t GROUP BY h)
              SELECT t.doc_id, c.n_copies, t.n_words,
                CAST(1000000 // c.n_copies AS BIGINT) AS weight_ppm,
                CAST(t.n_words * 1000000 // c.n_copies AS BIGINT)
                  AS eff_tokens_micro
              FROM t JOIN c USING (h) ORDER BY doc_id""")),

    // ---- MinHash + LSH near-dup ------------------------------------------
    Q("q_dedup_minhash",
      (s, d) => {
        val sh = shingled(docs(s, d)).localCheckpoint()
        val cand = lshCandidates(minhashBands(s, sh))
        cand
          .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
          .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
          .withColumn("jac", jaccard(col("a_sh"), col("b_sh")))
          .filter(col("jac") >= 0.5)
          .select(col("a_id"), col("b_id"), col("jac"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH sh AS (${sqlShingled("documents")})
              SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                ${sqlJaccard("a.sh", "b.sh")} AS jac
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE ${sqlJaccard("a.sh", "b.sh")} >= 0.5
              ORDER BY a_id, b_id""")),

    // ---- near-dup clustering (pairs → keep/drop decisions) ---------------
    // The step after pair detection in a real dedup pipeline: connected
    // components over the near-dup graph; the cluster minimum becomes the
    // canonical survivor. Oracle recomputes components with a recursive CTE
    // over the brute-forced pair list.
    Q("q_dedup_clusters",
      (s, d) => clusterOutput(connectedComponents(nearDupPairs(s, d))),
      Some(ClustersOracleSql)),

    // ---- near-dup clustering via large-star/small-star -------------------
    // Same pair detection and output contract as q_dedup_clusters, but
    // components come from the O(log n)-round star algorithm instead of
    // O(diameter) min-label propagation — the variant a 100 TB graph with
    // long chains needs. Labels are identical by definition (component
    // minimum), so the oracle is the same recursive CTE.
    Q("q_dedup_clusters_star",
      (s, d) => clusterOutput(connectedComponentsStar(nearDupPairs(s, d))),
      Some(ClustersOracleSql)),

    // ---- quality-aware cluster representative ----------------------------
    // Survivor selection a production dedup actually wants: instead of
    // the min-id convention, each near-dup cluster keeps its HIGHEST-
    // QUALITY member (the oracle-verified q_quality composite,
    // TextOps.qualityScores; ties → lower doc_id). Shapes: same CC as
    // q_dedup_clusters, quality joins by doc_id equi-join, and the
    // representative is a max_by AGGREGATE over (quality, −doc_id) — a
    // map-side-partial argmax, chosen over a per-cluster rank window so
    // a Zipf-giant cluster contributes one partial row per task instead
    // of a cluster-sized window sort. The exactness is structural: the
    // struct max is a total order, so both engines pick the same rep.
    Q("q_dedup_quality_rep",
      (s, d) => {
        // localCheckpoint: `labeled` is consumed TWICE (rep argmax + the
        // keep-flag join back) and its quality side is a full document
        // scan + composite-score projection — without the checkpoint the
        // scan ran once per consumer (r19, guide §2.4; the same shape as
        // q_vocab_coverage's counts)
        val labeled = connectedComponents(nearDupPairs(s, d))
          .select(col("id").as("doc_id"), col("label").as("cluster_id"))
          .join(TextOps.qualityScores(s, d)
            .select(col("doc_id"), col("quality")), "doc_id")
          .localCheckpoint()
        val rep = labeled.groupBy("cluster_id")
          .agg(max_by(col("doc_id"),
            struct(col("quality"), (-col("doc_id")).as("nid"))).as("rep_id"))
        labeled.join(rep, "cluster_id")
          .select(col("doc_id"), col("cluster_id"), col("quality"),
            (col("doc_id") === col("rep_id")).as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $sqlClusterLabelCtes,
              ${TextOps.sqlQualityCtes},
              j AS (
                SELECT l.doc_id, l.cluster_id, q.quality
                FROM labels l JOIN qual q USING (doc_id)),
              rep AS (
                SELECT cluster_id, doc_id AS rep_id FROM j
                QUALIFY row_number() OVER (PARTITION BY cluster_id
                  ORDER BY quality DESC, doc_id) = 1)
              SELECT j.doc_id, j.cluster_id, j.quality,
                (j.doc_id = rep.rep_id) AS keep
              FROM j JOIN rep USING (cluster_id)
              ORDER BY doc_id""")),

    // ---- SimHash signatures ----------------------------------------------
    // Per-row computation only (no shuffle before the determinism sort);
    // near-dup grouping over these signatures is a groupBy on bit-bands.
    Q("q_dedup_simhash",
      (s, d) => simhash32(docs(s, d)).orderBy("doc_id"),
      Some(s"""WITH ${sqlSimhash32("documents")}
              SELECT doc_id, simhash FROM sig ORDER BY doc_id""")),

    // ---- SimHash banded near-dup (LSH over Hamming space) ----------------
    // The grouping the signature exists for — with the two shapes a 100 TB
    // run needs:
    //  1. COLLAPSE EXACT-SIGNATURE DUPLICATES FIRST (this corpus: 5000
    //     docs → 2255 distinct signatures, one sharing 542 docs). Banding
    //     raw docs would self-join those 542 into 147k pairs per bucket;
    //     banding distinct signatures keeps every bucket small and counts
    //     intra-group pairs combinatorially (cnt·(cnt−1)/2).
    //  2. LSH banding over the distinct signatures: 4 bands × 8 bits —
    //     any pair within Hamming distance 3 collides on ≥ 1 band
    //     (pigeonhole), so cross-signature candidates come from
    //     band-equality self-joins, never all-pairs; only candidates pay
    //     the exact bit_count(xor) verification (threshold 1 here — this
    //     synthetic corpus shares one vocabulary, so looser thresholds
    //     call everything a near-dup).
    // Output is the per-distance pair histogram — pair LISTS feed
    // clustering or stats downstream, never a sink.
    Q("q_dedup_simhash_bands",
      (s, d) => {
        val groups = simhash32(docs(s, d))
          .groupBy("simhash").agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val bands = groups
          .select(col("simhash"), col("cnt"),
            explode(sequence(lit(0), lit(3))).as("band"))
          .withColumn("band_val",
            expr("shiftright(simhash, CAST(band * 8 AS INT)) & 255"))
        val a = bands.select(col("band"), col("band_val"),
          col("simhash").as("a_sim"), col("cnt").as("a_cnt"))
        val b = bands.select(col("band"), col("band_val"),
          col("simhash").as("b_sim"), col("cnt").as("b_cnt"))
        val cross = a.join(b, Seq("band", "band_val"))
          .filter(col("a_sim") < col("b_sim"))
          .select("a_sim", "b_sim", "a_cnt", "b_cnt").distinct()
          .filter(bit_count(col("a_sim").bitwiseXOR(col("b_sim"))) === 1)
          .agg(sum(col("a_cnt") * col("b_cnt")).as("n_pairs"))
          .select(lit(1).as("hamming"), col("n_pairs"))
        val intra = groups
          .agg(sum(expr("cnt * (cnt - 1) DIV 2")).as("n_pairs"))
          .select(lit(0).as("hamming"), col("n_pairs"))
        intra.union(cross)
          .filter(col("n_pairs").isNotNull && col("n_pairs") > 0)
          .orderBy("hamming")
      },
      Some(s"""WITH ${sqlSimhash32("documents")},
              g AS (SELECT simhash, COUNT(*) AS cnt FROM sig GROUP BY simhash),
              bands AS (
                SELECT simhash, cnt, j AS band,
                  (simhash >> (8 * j)) & 255 AS band_val
                FROM g, (SELECT unnest(generate_series(0, 3)) AS j)),
              cand AS (
                SELECT DISTINCT a.simhash AS a_sim, b.simhash AS b_sim,
                  a.cnt AS a_cnt, b.cnt AS b_cnt
                FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_val = b.band_val
                  AND a.simhash < b.simhash),
              cx AS (
                SELECT 1 AS hamming, CAST(SUM(a_cnt * b_cnt) AS BIGINT) AS n_pairs
                FROM cand WHERE bit_count(xor(a_sim, b_sim)) = 1),
              intra AS (
                SELECT 0 AS hamming,
                  CAST(SUM(cnt * (cnt - 1) // 2) AS BIGINT) AS n_pairs
                FROM g)
              SELECT hamming, n_pairs FROM (
                SELECT * FROM intra UNION ALL SELECT * FROM cx)
              WHERE n_pairs IS NOT NULL AND n_pairs > 0
              ORDER BY hamming""")),

    // ---- n-gram Jaccard similarity ---------------------------------------
    // The similarity measure itself as an operator: each doc scored against
    // its doc_id successor — a single equi-join shuffle, no cross join.
    Q("q_ngram_jaccard",
      (s, d) => {
        val sh = shingled(docs(s, d)).localCheckpoint()
        val a = sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
        val b = sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
        a.join(b, col("b_id") === col("a_id") + 1)
          .select(col("a_id"), col("b_id"),
            jaccard(col("a_sh"), col("b_sh")).as("jac"))
          .orderBy("a_id")
      },
      Some(s"""WITH sh AS (${sqlShingled("documents")})
              SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                ${sqlJaccard("a.sh", "b.sh")} AS jac
              FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
              ORDER BY a_id""")),

    // ---- embedding-cosine near-dup ---------------------------------------
    // Semantic dedup: vectors whose cosine ≥ 0.45 are duplicates; clusters
    // are connected components over those edges, and the kept
    // representative is the minimum vec_id. Edges come from the
    // size-dispatched exact similarity join (broadcast kernel / blocked
    // GEMM — see Similarity.cosinePairs); EVERY vector gets a row, with
    // singletons their own cluster. The oracle recomputes edges with the
    // same rounded cosine and takes a recursive transitive closure.
    Q("q_dedup_embed",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val edges = Similarity.cosinePairs(s, e, 0.45)
          .select(col("a_id"), col("b_id"))
        embedClusters(e, edges)
      },
      // edge predicate = Similarity.sqlCosineCols — the SAME floor-micro
      // quantization cosinePairs applies (this oracle was the one cosine
      // consumer the r12 migration missed: its ROUND-form edge could flip
      // on a .xxxxxx5-boundary cosine even though no score is emitted)
      Some(s"""WITH RECURSIVE
              e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              p AS (
                SELECT a.vec_id AS a_id, b.vec_id AS b_id
                FROM e a JOIN e b ON a.vec_id < b.vec_id
                WHERE ${Similarity.sqlCosineCols("a.v", "b.v")} >= 0.45),
              ${embedClusterSql("e")}""")),

    // ---- bucketed embedding near-dup (the 100 TB semantic-dedup path) ----
    // SemDeDup shape: q_dedup_embed's exact all-pairs join is O(n²) in TASK
    // COUNT at scale (corpus/64MB blocks ⇒ blocks²/2 tasks); here candidate
    // edges are generated WITHIN nearest-centroid buckets only (the shared
    // Similarity.ivfAssign pass), so pair work is Σ bucket² ≈ n²/k instead
    // of n² — and with real k-means centroids k grows with the corpus,
    // keeping bucket size (and the per-bucket self-join) constant. Recall
    // is approximate BY DEFINITION (cross-bucket near-dups are missed; the
    // refinement property — every bucketed cluster is a subset of an exact
    // cluster — is pinned in DedupSpec); the computation itself is
    // deterministic, so it has an exact SQL oracle. The exact row
    // (q_dedup_embed) stays registered as the small-corpus reference.
    Q("q_dedup_embed_ivf",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        // zero-norm vectors have no defined cosine: NaN would BOTH corrupt
        // bucketing (NaN c_cos wins every max_by) and pass the edge
        // threshold Spark-side while the oracle's NULL fails it — exclude
        // them up front; the left join below still emits them as
        // singletons, exactly like the exact path.
        // Buckets come from ITERATED k-means (exactly 4 Lloyd rounds, no
        // early stop), not the raw first-k seeding: bucket balance — and
        // with it the Σ bucket² pair work — no longer hangs on whichever
        // vectors happen to be rows 0..k-1.
        val assigned = Similarity.kmeansIterate(
          s, Similarity.dropZeroNorm(s, e), 8, 4)
        // per-bucket self-join: shuffles on `bucket` co-locate each bucket,
        // then the pair loop runs bucket-locally — never across buckets
        val a = assigned.select(col("bucket"), col("vec_id").as("a_id"),
          col("embedding").as("a_v"))
        val b = assigned.select(col("bucket"), col("vec_id").as("b_id"),
          col("embedding").as("b_v"))
        val edges = a.join(b, Seq("bucket"))
          .filter(col("a_id") < col("b_id"))
          .filter(Similarity.cosine(s, col("a_v"), col("b_v")) >= 0.45)
          .select("a_id", "b_id")
        embedClusters(e, edges)
      },
      // the oracle filters `e` with the SAME zero-norm predicate the Spark
      // side applies (dropZeroNorm) rather than relying on DuckDB's 0/0 →
      // NULL never winning the argmax or passing the threshold — a DuckDB
      // config where 0/0 yields NaN (sorts FIRST under ORDER BY DESC)
      // would otherwise corrupt bucket assignment. The singleton seed
      // (`all_e`) stays on the UNFILTERED table, mirroring the Spark
      // side's left join against the full corpus.
      Some(s"""WITH RECURSIVE
              ${Similarity.sqlIvfAssign(8, Similarity.sqlZeroNormWhere)},
              ${Similarity.sqlKmeansRounds(4)},
              all_e AS (SELECT vec_id FROM embeddings),
              p AS (
                SELECT a.vec_id AS a_id, b.vec_id AS b_id
                FROM a4 a JOIN a4 b
                  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
                WHERE ${Similarity.sqlCosineCols("a.v", "b.v")} >= 0.45),
              ${embedClusterSql("all_e")}""")),

    // ---- embedding near-dup, hyperplane-LSH (the third index family) -----
    // Sign-LSH (Charikar SimHash over the embedding space) next to the
    // exact O(n²) reference (q_dedup_embed) and the centroid-bucketed
    // SemDeDup path (q_dedup_embed_ivf): 16 hyperplane sign bits in 2
    // bands of 8, candidates = pairs agreeing on a full band (equi-join
    // on the band key — no centroids to train, no Σ bucket² sensitivity
    // to cluster balance), then the SAME exact-cosine verify, so edges ⊆
    // the exact path's edges and every LSH cluster refines an exact
    // cluster (pinned in DedupSpec). Planes are the DATA-INDEPENDENT
    // seeded Irwin–Hall family (Similarity.seededHyperplaneBands) whose
    // recall is measured and pinned by q_lsh_recall — corpus-vector
    // planes would correlate sign bits on clustered corpora and fall
    // below the Charikar bound. Candidate ids are deduped BEFORE the
    // kernel (a dual-band pair would verify twice), then re-join their
    // vectors. At 100 TB the knobs are nPlanes/bandBits: recall per edge
    // is 1-(1-p^8)^2 with p = 1 - θ/π, ~0.5 at cos 0.9 — a candidate
    // GENERATOR tuned for near-identical pairs (re-encoded duplicates),
    // not a range search. Measured honestly at sf0.01: every exact edge
    // sits at cos 0.45-0.51 (p^8 ≈ 0.04), so sign-LSH recovers few of
    // them by design — that regime belongs to the IVF path, whose bucket
    // partitioning does not decay with angle; a τ≈0.45 LSH range search
    // would need ~50+ bands (the classic S-curve tradeoff), which is the
    // `nPlanes` knob, not a different algorithm.
    Q("q_dedup_embed_lsh",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val ez = Similarity.dropZeroNorm(s, e)
        val banded = Similarity.seededHyperplaneBands(s, ez, "gauss",
          nPlanes = 16, bandBits = 8)
        val cand = banded.select(col("band_idx"), col("band_key"),
            col("vec_id").as("a_id"))
          .join(banded.select(col("band_idx"), col("band_key"),
            col("vec_id").as("b_id")), Seq("band_idx", "band_key"))
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id").distinct()
        val edges = cand
          .join(ez.select(col("vec_id").as("a_id"),
            col("embedding").as("a_v")), Seq("a_id"))
          .join(ez.select(col("vec_id").as("b_id"),
            col("embedding").as("b_v")), Seq("b_id"))
          .filter(Similarity.cosine(s, col("a_v"), col("b_v")) >= 0.45)
          .select("a_id", "b_id")
        embedClusters(e, edges)
      },
      Some(s"""WITH RECURSIVE
              e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings
                    WHERE ${Similarity.sqlZeroNormWhere}),
              ${Similarity.sqlSeededBands("gauss", 16, 8, "e")},
              all_e AS (SELECT vec_id FROM embeddings),
              cand AS (
                SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
                FROM banded a JOIN banded b
                  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                    AND a.vec_id < b.vec_id),
              p AS (
                SELECT a_id, b_id FROM cand
                JOIN e ea ON ea.vec_id = a_id
                JOIN e eb ON eb.vec_id = b_id
                WHERE ${Similarity.sqlCosineCols("ea.v", "eb.v")} >= 0.45),
              ${embedClusterSql("all_e")}""")),

    // ---- incremental dedup (new batch vs existing corpus) ------------------
    // The shape a production pipeline actually runs nightly: dedup an
    // INCREMENT against the already-deduped corpus, not the whole corpus
    // against itself. A batch document is dropped if (in priority order)
    // its content hash exists in the corpus (exact_corpus), an earlier
    // batch document has the same hash (exact_batch), or it is a verified
    // near-dup of a corpus document (near_corpus: minhash-band candidates
    // batch×corpus, exact-Jaccard ≥ 0.5 verify — the q_dedup_minhash
    // machinery pointed across the two sets instead of self-joined).
    // Batch/corpus split is doc_id % 5 here (a deterministic stand-in for
    // the ingest date). Scale shape: candidate GENERATION shuffles only
    // 32-byte digests and ~16-byte band keys — never text — and costs
    // O(batch bands ⋈ corpus bands) plus a batch-band self-join, NOT
    // O(batch × corpus); the exact-Jaccard verify then joins the
    // candidate ids back to the shingle tables, which DOES shuffle the
    // (text-sized) shingle sets once — the same verify cost
    // q_dedup_minhash pays. Batch-internal near-dups are caught too
    // (near_batch — see incrementalDedup's priority contract).
    Q("q_dedup_incremental",
      (s, d) => {
        val all = docs(s, d)
        incrementalDedup(s, all.filter(col("doc_id") % 5 === 0),
          all.filter(col("doc_id") % 5 =!= 0))
      },
      // brute-force twin: the near checks are exhaustive batch×corpus and
      // batch×batch Jaccard — they match because LSH recall at jac ≥ 0.5
      // is ≈ 1 (r=2/b=64: miss prob < 1e-8, the q_dedup_minhash bet)
      Some(s"""WITH b AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
              c AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
              -- first_id via a window (NULL hashes group together), like
              -- the Spark side: an inner join to a GROUP BY h table would
              -- DROP a NULL-text batch row that Spark keeps
              bh AS (
                SELECT doc_id, sha256(text) AS h,
                  MIN(doc_id) OVER (PARTITION BY sha256(text)) AS first_id
                FROM b),
              ch AS (SELECT DISTINCT sha256(text) AS h FROM c),
              bsh AS (${sqlShingled("b")}),
              csh AS (${sqlShingled("c")}),
              near AS (
                SELECT DISTINCT bsh.doc_id
                FROM bsh JOIN csh
                ON ${sqlJaccard("bsh.sh", "csh.sh")} >= 0.5),
              nearb AS (
                SELECT DISTINCT b2.doc_id
                FROM bsh b1 JOIN bsh b2 ON b1.doc_id < b2.doc_id
                WHERE ${sqlJaccard("b1.sh", "b2.sh")} >= 0.5)
              SELECT bh.doc_id,
                (CASE WHEN ch.h IS NOT NULL THEN 'exact_corpus'
                      WHEN bh.doc_id > bh.first_id THEN 'exact_batch'
                      WHEN n.doc_id IS NOT NULL THEN 'near_corpus'
                      WHEN nb.doc_id IS NOT NULL THEN 'near_batch'
                      ELSE 'kept' END) = 'kept' AS keep,
                CASE WHEN ch.h IS NOT NULL THEN 'exact_corpus'
                     WHEN bh.doc_id > bh.first_id THEN 'exact_batch'
                     WHEN n.doc_id IS NOT NULL THEN 'near_corpus'
                     WHEN nb.doc_id IS NOT NULL THEN 'near_batch'
                     ELSE 'kept' END AS reason
              FROM bh
              LEFT JOIN ch ON bh.h = ch.h
              LEFT JOIN near n ON bh.doc_id = n.doc_id
              LEFT JOIN nearb nb ON bh.doc_id = nb.doc_id
              ORDER BY bh.doc_id""")),

    // ---- exact repeated-substring detection --------------------------------
    // The window-granular form of exact-substring dedup (Lee et al.,
    // "Deduplicating Training Data Makes Language Models Better", ACL'22 —
    // their suffix-array pass finds verbatim spans repeated ACROSS
    // documents; the scalable dataflow version detects them at fixed
    // window granularity): every 10-token window is hashed, a window
    // appearing in ≥ 2 documents is a duplicated span witness, and each
    // document reports its duplicated-window fraction — the signal used
    // to cut boilerplate/licenses/templates that exact whole-doc dedup
    // misses. Shapes: one text scan → per-row distinct window hashes
    // (codegen'd transform, the text column never shuffles — only 32-char
    // hashes); the doc-count table joins back by SHUFFLE (window
    // vocabulary is corpus-sized, per the q_tfidf df-join rule); per-doc
    // rollup partial-aggregates.
    Q("q_substring_dup",
      (s, d) => {
        val w = TextOps.windowHashes(docs(s, d), 10)
        val c = w.groupBy("wh").agg(count(lit(1)).as("n_docs"))
        w.join(c, "wh")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_windows"),
            count_if(col("n_docs") >= 2).as("n_dup_windows"),
            Arith.micro6(count_if(col("n_docs") >= 2).cast("double") /
              count(lit(1))).as("dup_fraction"))
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (
                SELECT doc_id,
                  unnest(list_distinct([md5(array_to_string(toks[i:i+9], ' '))
                    FOR i IN generate_series(1, len(toks) - 9)])) AS wh
                FROM (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM documents)
                WHERE len(toks) >= 10),
              c AS (SELECT wh, COUNT(*) AS n_docs FROM w GROUP BY wh)
              SELECT w.doc_id, COUNT(*) AS n_windows,
                COUNT(*) FILTER (c.n_docs >= 2) AS n_dup_windows,
                ${Arith.sqlMicro6(
                  "(COUNT(*) FILTER (c.n_docs >= 2))::DOUBLE / COUNT(*)")}
                  AS dup_fraction
              FROM w JOIN c USING (wh)
              GROUP BY w.doc_id ORDER BY doc_id""")),

    // ---- duplicated-span REMOVAL (the rewrite q_substring_dup reports) ----
    // Lee et al.'s pass doesn't stop at measuring duplication — it CUTS
    // the repeated spans and ships the cleaned corpus. This is that
    // rewrite at window granularity: every token covered by any 10-token
    // window appearing in ≥ 2 documents is dropped, and each doc emits
    // its cleaned text (as md5 — the compare pins the exact surviving
    // token sequence) plus kept counts. Shapes: the window→dup-count
    // join shuffles 32-char hashes (q_substring_dup's rule); covered
    // positions collapse per doc via collect_set with map-side partials
    // (bounded by doc LENGTH, not corpus); the rebuild is ONE codegen'd
    // indexed-filter projection over the original token array — the text
    // column itself never shuffles anywhere. Zero-kept docs emit
    // md5('') on both engines.
    Q("q_dedup_span_cut",
      (s, d) => {
        val t = docs(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
        val w = t.filter(size(col("toks")) >= 10)
          .select(col("doc_id"),
            posexplode(transform(sequence(lit(0), size(col("toks")) - 10),
              i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(10))))))
              .as(Seq("i", "wh")))
        // r18: the dup table's per-doc distinct comes from windowHashes'
        // IN-ROW array_distinct (a doc_id can only repeat a window within
        // itself), not a corpus-wide distinct() — that distinct was a full
        // Exchange of every (doc_id, wh) pair before the count could
        // partial-aggregate (guide §2.4 "a distinct on data that is
        // already unique"). Same dup set, one exchange fewer, and the
        // groupBy(wh) count now partial-aggregates map-side directly.
        val dup = TextOps.windowHashes(docs(s, d), 10)
          .groupBy("wh").agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= 2)
        // shuffle window STARTS only (the ×10 position expansion runs
        // per-doc inside the rebuild projection, never through the
        // shuffle): the first x100 stress run of the exploded-positions
        // form spilled 10 GB; this form's aggregation input is exactly
        // the dup-window rows. AQE broadcasts a small dup table.
        val cov = w.join(dup, "wh")
          .groupBy("doc_id").agg(collect_set(col("i")).as("starts"))
        t.join(cov, Seq("doc_id"), "left")
          .withColumn("cov", array_distinct(flatten(transform(
            coalesce(col("starts"), array().cast("array<int>")),
            s0 => sequence(s0, s0 + 9)))))
          .withColumn("kept", filter(col("toks"),
            (_, idx) => !array_contains(col("cov"), idx)))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(col("kept")).cast("long").as("n_kept"),
            Arith.micro6(size(col("kept")).cast("double") / size(col("toks")))
              .as("kept_fraction"),
            md5(concat_ws(" ", col("kept"))).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (
                SELECT doc_id, string_split(text, ' ') AS toks
                FROM documents),
              w AS (
                SELECT doc_id, unnest(whs) AS wh,
                  CAST(generate_subscripts(whs, 1) AS BIGINT) AS i
                FROM (
                  SELECT doc_id,
                    [md5(array_to_string(toks[i:i+9], ' '))
                     FOR i IN generate_series(1, len(toks) - 9)] AS whs
                  FROM t WHERE len(toks) >= 10)),
              dup AS (
                SELECT wh FROM (SELECT DISTINCT doc_id, wh FROM w)
                GROUP BY wh HAVING COUNT(*) >= 2),
              cov AS (
                SELECT DISTINCT doc_id, unnest(generate_series(i, i + 9)) AS p
                FROM w JOIN dup USING (wh)),
              tok AS (
                SELECT doc_id, unnest(toks) AS tk,
                  CAST(generate_subscripts(toks, 1) AS BIGINT) AS p
                FROM t),
              kept AS (
                SELECT tok.doc_id, tok.tk, tok.p
                FROM tok LEFT JOIN cov
                  ON tok.doc_id = cov.doc_id AND tok.p = cov.p
                WHERE cov.p IS NULL)
              SELECT t.doc_id,
                CAST(len(t.toks) AS BIGINT) AS n_tokens,
                CAST(COUNT(kept.tk) AS BIGINT) AS n_kept,
                ${Arith.sqlMicro6("COUNT(kept.tk)::DOUBLE / len(t.toks)")}
                  AS kept_fraction,
                md5(COALESCE(string_agg(kept.tk, ' ' ORDER BY kept.p), ''))
                  AS clean_md5
              FROM t LEFT JOIN kept ON t.doc_id = kept.doc_id
              GROUP BY t.doc_id, t.toks
              ORDER BY t.doc_id""")),

    // ---- triangle count over the near-dup graph ---------------------------
    // Graph analytics on the dedup edge list: triangles (3-cliques of
    // mutually-similar docs) witness TRANSITIVE similarity — a cluster
    // quality signal (chains of barely-similar pairs have none). The
    // canonical a<b<c orientation makes each triangle meet in exactly one
    // join path: edges(a,b) ⋈ edges(b,c) closes against edges(a,c) — two
    // equi-joins over the EDGE list, never touching the n² doc space. At
    // 100 TB scale the classic refinement is orienting by (degree, id)
    // instead of id so hub nodes don't fan out their full neighborhood;
    // near-dup graphs have no hubs (clusters are small by construction),
    // so id-orientation suffices here. Spark runs the REAL LSH pipeline
    // for the edges; the oracle brute-forces the same pair set — the row
    // therefore bets on LSH edge-level recall, the SAME bet q_dedup_
    // minhash already makes: at r=2/b=64 a jac≥0.5 pair misses every
    // band with probability ≤ (1−0.25)^64 ≈ 1e-8, negligible even
    // per-edge.
    Q("q_triangles",
      (s, d) => {
        val pairs = nearDupPairs(s, d).localCheckpoint()
        val e12 = pairs.select(col("a_id").as("x"), col("b_id").as("y"))
        val e23 = pairs.select(col("a_id").as("y2"), col("b_id").as("z"))
        val e13 = pairs.select(col("a_id").as("x3"), col("b_id").as("z3"))
        val tri = e12.join(e23, col("y") === col("y2"))
          .join(e13, col("x") === col("x3") && col("z") === col("z3"))
          .agg(count(lit(1)).as("n_triangles"))
        pairs.agg(count(lit(1)).as("n_edges")).crossJoin(tri)
      },
      Some(s"""WITH sh AS (${sqlShingled("documents")}),
              p AS MATERIALIZED (
                -- MATERIALIZED: referenced 4× below; inlined, the pair
                -- Jaccard would brute-force 4 times over
                SELECT a.doc_id AS a_id, b.doc_id AS b_id
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE ${sqlJaccard("a.sh", "b.sh")} >= 0.5)
              SELECT (SELECT COUNT(*) FROM p) AS n_edges,
                (SELECT COUNT(*)
                 FROM p e1 JOIN p e2 ON e1.b_id = e2.a_id
                 JOIN p e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id)
                  AS n_triangles""")),

    // ---- label-propagation communities over the near-dup graph ------------
    // Synchronous LPA (Raghavan et al. 2007) as the third graph op on the
    // dedup edge list (CC via star contraction = q_dedup_clusters_star;
    // triangles = q_triangles): labels start as node ids, and each of 3
    // driver-unrolled rounds reassigns every node the MODE over its
    // neighbors' labels plus its own (self-inclusive — the deterministic
    // damping without which sync LPA oscillates forever on 2-cliques,
    // caught live by the GraphSpec fixed-point pin; ties → the smallest
    // label; isolated nodes keep their own). On a near-dup graph LPA
    // converges in ~cluster-diameter rounds, and the corpus fixed point
    // IS reached by round 3 (round 4 moves nothing — spec-pinned);
    // communities ≠ components in general — LPA can split a weakly-joined
    // chain where CC cannot, which is why both ops exist. Shapes: per
    // round ONE shuffle of (node, neighbor-label) pairs bounded by the
    // EDGE list (never n²), the mode an argmax aggregate with map-side
    // partials, each round localCheckpointed so lineage stays flat. The
    // oracle brute-forces the same pair set and unrolls the same 3
    // rounds — the LSH-recall bet is q_triangles', edge for edge.
    Q("q_graph_lpa",
      (s, d) => {
        val pairs = nearDupPairs(s, d).localCheckpoint()
        lpaRounds(
          nodes = docs(s, d).select(col("doc_id").as("v")),
          edges = pairs, rounds = 3)
          .select(col("v").as("doc_id"), col("lbl").as("community"))
          .orderBy("doc_id")
      },
      Some {
        val rounds = (1 to 3).map { k =>
          s"""n$k AS (
               SELECT adj.v, l${k - 1}.lbl AS u_lbl, COUNT(*) AS c
               FROM adj JOIN l${k - 1} ON adj.u = l${k - 1}.v
               GROUP BY adj.v, l${k - 1}.lbl),
             b$k AS (
               SELECT v, u_lbl AS new_lbl FROM n$k
               QUALIFY row_number() OVER (PARTITION BY v
                 ORDER BY c DESC, u_lbl) = 1),
             l$k AS (
               SELECT l${k - 1}.v, COALESCE(b$k.new_lbl, l${k - 1}.lbl)
                 AS lbl
               FROM l${k - 1} LEFT JOIN b$k ON l${k - 1}.v = b$k.v)"""
        }.mkString(",\n")
        s"""WITH sh AS (${sqlShingled("documents")}),
            p AS MATERIALIZED (
              -- MATERIALIZED: DuckDB inlines CTEs by default, and adj
              -- references p twice while every round references adj —
              -- inlined, the brute-force pair Jaccard would re-run ~6×
              SELECT a.doc_id AS a_id, b.doc_id AS b_id
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE ${sqlJaccard("a.sh", "b.sh")} >= 0.5),
            adj AS MATERIALIZED (
                    SELECT a_id AS v, b_id AS u FROM p
                    UNION ALL SELECT b_id, a_id FROM p
                    UNION ALL SELECT doc_id, doc_id FROM documents),
            l0 AS (SELECT doc_id AS v, doc_id AS lbl FROM documents),
            $rounds
            SELECT v AS doc_id, lbl AS community FROM l3 ORDER BY v"""
      }),

    // ---- end-to-end corpus curation pipeline -------------------------------
    // The flagship COMPOSITION: the stage chain a training-corpus build
    // actually runs — min-length gate → heuristic quality filter (the
    // q_quality rule verbatim) → exact dedup (first doc_id per content
    // hash) → near-dup drop (a doc falls if it is a verified jac ≥ 0.5
    // near-dup of a LOWER-id survivor — the pair-drop rule; the CC
    // variants are the clustering rows above) → per-source token-budget
    // sample (the q_sample_budget hash-priority rule) — emitting the
    // per-stage attrition table every pipeline report starts with.
    // Each stage consumes the previous stage's SURVIVORS (order matters:
    // dedup after quality, budget last), so the oracle must recompute the
    // same chain — its near-dup stage brute-forces pairs within the s3
    // survivor set, which bets on band recall at jac ≥ 0.5 exactly like
    // q_dedup_minhash (any s3-internal pair is a corpus pair, and
    // subsetting cannot lose a band collision). Plan discipline: d0 and
    // the two frames every later stage re-reads (s3, s4) localCheckpoint
    // — six stage counts would otherwise re-run the LSH chain once per
    // count (the q_bpe_merges lesson); stage counts are 1-row aggs
    // union'd, each a map-side partial over a checkpointed frame.
    Q("q_corpus_pipeline",
      (s, d) => corpusPipeline(s, docs(s, d)),
      Some(CorpusPipelineOracleSql))
  )

  /** The corpus-curation oracle — the full batch stage chain in DuckDB.
    * Shared VERBATIM by `q_corpus_pipeline` and the streaming arm
    * `q_stream_corpus_pipeline` (streaming/Streams.scala): the
    * incremental foreachBatch curation is held to the exact batch
    * answer, the same one-oracle-two-arms discipline the stateful
    * streaming twins use. */
  private[graft] lazy val CorpusPipelineOracleSql: String =
    s"""WITH d0 AS (
                SELECT doc_id, source, n_chars, text,
                  CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                    AS n_tokens
                FROM documents),
              s1 AS (SELECT * FROM d0 WHERE n_tokens >= 12),
              s2 AS (
                SELECT doc_id, source, n_chars, text FROM (
                  SELECT *,
                    ${Arith.sqlMicro6(
                      "(n_chars - n_tokens + 1)::DOUBLE / n_tokens")}
                      AS mwl,
                    ${Arith.sqlMicro6(
                      """len([t FOR t IN string_split(lower(text), ' ')
                        IF regexp_matches(t, '^(a|the|of|and|to|in)$')])
                      ::DOUBLE / n_tokens""")} AS sr
                  FROM s1)
                WHERE ${Arith.sqlMicro6(
                  """least(n_tokens::DOUBLE / 100, 1.0) * 0.5 +
                  CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END +
                  CASE WHEN sr > 0.02 THEN 0.2 ELSE 0.0 END""")} >= 0.5),
              s3 AS (
                SELECT doc_id, source, n_chars, text FROM s2
                QUALIFY doc_id = MIN(doc_id)
                  OVER (PARTITION BY sha256(text))),
              sh AS (${sqlShingled("s3")}),
              drops AS (
                SELECT DISTINCT b.doc_id
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE ${sqlJaccard("a.sh", "b.sh")}
                  >= 0.5),
              s4 AS (SELECT * FROM s3
                     WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
              s5 AS (
                SELECT * FROM (
                  SELECT doc_id, source, n_chars,
                    SUM(n_chars) OVER (PARTITION BY source
                      ORDER BY md5(doc_id::VARCHAR), doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_chars AS prior
                  FROM s4)
                WHERE prior < 5000)
              SELECT 0 AS stage_ord, 'input' AS stage,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM d0) AS n_docs
              UNION ALL SELECT 1, 'minlen',
                (SELECT CAST(COUNT(*) AS BIGINT) FROM s1)
              UNION ALL SELECT 2, 'quality',
                (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
              UNION ALL SELECT 3, 'exact_dedup',
                (SELECT CAST(COUNT(*) AS BIGINT) FROM s3)
              UNION ALL SELECT 4, 'near_dedup',
                (SELECT CAST(COUNT(*) AS BIGINT) FROM s4)
              UNION ALL SELECT 5, 'token_budget',
                (SELECT CAST(COUNT(*) AS BIGINT) FROM s5)
              ORDER BY stage_ord"""

  // -------------------------------------------------------------------
  // Streaming corpus curation — the incremental foreachBatch arm of
  // q_corpus_pipeline (registered as q_stream_corpus_pipeline in
  // streaming/Streams.scala, same oracle verbatim; feed, state layout,
  // exactly-once and compaction in [[ChunkStream]]).
  //
  // Shape: the corpus arrives as doc_id-ordered micro-batches; each
  // batch runs minlen → quality locally, then the exact/near dedup
  // verdicts come from [[incrementalDedupPre]] against the accumulated
  // stage-3 state of all PRIOR batches. Because batches partition the
  // corpus in doc_id order, "first occurrence of a hash" and "near-dups
  // a smaller-id stage-3 doc" mean exactly what they mean in the batch
  // chain, so the final survivor set — and every stage count — is the
  // batch pipeline's answer, not an approximation of it. 100 TB shape:
  // per-batch work shuffles digests and band keys (batch bands ⋈ corpus
  // bands), never corpus text; the persisted state is the stage-3 docs'
  // hashes, shingle sets and band keys — minhash runs ONCE per doc over
  // the stream's life, where re-deriving corpus bands each batch would
  // be quadratic.
  // -------------------------------------------------------------------

  /** Stage the documents table as `nChunks` doc_id-range chunk files
    * under `feedDir` ([[ChunkStream.stageFeedOrdered]]). */
  private[graft] def stageCorpusFeed(s: SparkSession, d: String,
      nChunks: Int, feedDir: String): Unit =
    ChunkStream.stageFeedOrdered(s,
      docs(s, d).select("doc_id", "source", "n_chars", "text"),
      "doc_id", nChunks, feedDir)

  /** One micro-batch of the incremental curation (driver-side foreachBatch
    * body — every frame operation in here is a distributed Spark job). */
  private def corpusStreamBatch(st: ChunkStream.State,
      batch: DataFrame, bid: Long): Unit = {
    val s = st.spark
    val d0b = corpusD0(batch).localCheckpoint()
    val s1b = d0b.filter(col("n_tokens") >= 12)
    val s2b = corpusQuality(s1b).localCheckpoint()
    // no localCheckpoint: sha2 over the (checkpointed) batch is cheaper
    // to recompute at its three consumers (the repIds claim pass, the
    // verdict assembly, the hash-state put) than one more eager job —
    // this row's cost is JOB COUNT on tiny per-batch frames, not CPU
    val bHash = s2b.select(col("doc_id"), sha2(col("text"), 256).as("h"))
    // EXACT-FIRST discipline, the ×10000 corpus-stream lesson: shingle/
    // minhash work and near-dup candidate generation run on one
    // REPRESENTATIVE per distinct batch text (the min-doc_id copy — the
    // same first_id the exact_batch verdict keys on). Exact copies carry
    // identical shingle sets and band keys, so banding them all makes the
    // intra-batch LSH buckets quadratic in the per-batch duplication
    // factor (at ×10000, ~156 copies/text/batch → C(156,2)·texts·bands
    // candidate pairs, each dragging two shingle arrays — measured as a
    // >69 GB spill that filled the box inside batch 0), while the
    // verdicts are INVARIANT to the restriction: a non-representative's
    // reason is exact_batch/exact_corpus before any near flag is
    // consulted, and every (repX, repY) band collision a dropped copy
    // would have produced survives through the representatives'
    // identical band keys. The batch pipeline already has this shape
    // (stage-3 exact dedup precedes stage-4 LSH); this keeps the
    // streaming twin's per-batch near-dup cost O(distinct), not
    // O(batch²/texts).
    // groupBy, not a window over h: the rep set is an argmin per hash, so
    // a map-side partial min shuffles one row per distinct text instead
    // of sorting the whole batch's (doc_id, h) pairs
    val repIds = bHash.groupBy("h")
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val s2bR = s2b.join(repIds, "doc_id")
    val bSh = shingled(s2bR).localCheckpoint()
    val bBands = minhashBands(s, bSh).localCheckpoint()
    val verdicts = incrementalDedupPre(s, bHash, bSh, bBands,
      st.prior("hash", bid, bHash.select("h")), st.prior("sh", bid, bSh),
      st.prior("band", bid, bBands)).localCheckpoint()
    val s3ids = verdicts
      .filter(!col("reason").isin("exact_corpus", "exact_batch"))
      .select("doc_id")
    val s4b = s2b
      .join(verdicts.filter(col("keep")).select("doc_id"), "doc_id")
      .select("doc_id", "source", "n_chars")
    // ONE job for all five stage counts: 1-row aggs crossJoined (each
    // broadcasts trivially) instead of five .count() actions + a toDF —
    // per-batch driver job count is this row's entire cost at test SF
    def n(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as(name))
    // The five state writes are INDEPENDENT jobs over already-
    // materialized inputs (the verdicts/shingle/band checkpoints above),
    // and at test SF each is dominated by the per-job floor — submit
    // them from a small pool so the batch pays ~max(write) instead of
    // Σ(write) (guide §2.6 "overlap independent jobs"; actions are only
    // sequential because driver code calls them sequentially). Any
    // failure fails the batch before the offset commits, so a replay
    // rewrites all five.
    val writes: Seq[(String, DataFrame)] = Seq(
      "hash" -> bHash.join(s3ids, "doc_id").select("h"),
      "sh" -> bSh.join(s3ids, "doc_id"),
      "band" -> bBands.join(s3ids, "doc_id"),
      "s4" -> s4b,
      "counts" -> n("n0", d0b).crossJoin(n("n1", s1b))
        .crossJoin(n("n2", s2b)).crossJoin(n("n3", s3ids))
        .crossJoin(n("n4", s4b)))
    Materialize.overlap(writes.map { case (kind, df) =>
      () => st.put(kind, bid, df)
    })
  }

  /** Start the curation stream over a staged feed ([[ChunkStream.start]]). */
  private[graft] def startCorpusStream(s: SparkSession, feedDir: String,
      scratch: String): org.apache.spark.sql.streaming.StreamingQuery =
    ChunkStream.start(s, feedDir, scratch,
      Seq("hash", "sh", "band", "s4", "counts"))(corpusStreamBatch)

  /** Assemble the pipeline report from the accumulated state: stages 0-4
    * are sums of the per-batch counts (each batch's verdicts are final —
    * later batches never revoke them), stage 5 re-runs the token-budget
    * window over the final survivor corpus (its md5-priority order is
    * global, so a newly arrived doc can displace an earlier one — the
    * one stage that is only well-defined on the END state). */
  private[graft] def corpusStreamResult(s: SparkSession,
      scratch: String): DataFrame = {
    val st = new ChunkStream.State(s, scratch)
    val c = st.read("counts")
      .agg(sum("n0"), sum("n1"), sum("n2"), sum("n3"), sum("n4")).head
    val n5 = budgetPrior(st.read("s4"))
      .filter(col("prior") < 5000L)
      .count()
    import s.implicits._
    Seq((0, "input", c.getLong(0)), (1, "minlen", c.getLong(1)),
      (2, "quality", c.getLong(2)), (3, "exact_dedup", c.getLong(3)),
      (4, "near_dedup", c.getLong(4)), (5, "token_budget", n5))
      .toDF("stage_ord", "stage", "n_docs")
      .orderBy("stage_ord")
  }
}
