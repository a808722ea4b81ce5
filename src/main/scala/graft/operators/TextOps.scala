package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Text-pipeline operators over the `documents` table.
  *
  * Covers the reference's two shipped query semantics — word count
  * (reference tests/testdata/exec/wc_map.sh:12, wc_reduce.sh:14) and grep
  * (reference tests/testdata/exec/grep_map.py:13-28) — re-expressed as
  * declarative DataFrame plans, plus the text-analysis operators an
  * LLM-training-data pipeline needs: language ID, quality scoring, token
  * counting, and document fingerprinting.
  *
  * Scale notes (100 TB design point):
  *  - every query is a single scan + single shuffle (groupBy on bounded-
  *    cardinality keys, or a per-row map with no shuffle at all before the
  *    oracle-determinism sort);
  *  - tokenization uses codegen'd `split`/`explode` — no UDFs anywhere;
  *  - word count does partial aggregation map-side automatically
  *    (HashAggregateExec partial → final), unlike the reference which ships
  *    every `word\t1` record through its shuffle (no combiner,
  *    reference tests/testdata/exec/wc_reduce.sh:8-14).
  */
object TextOps {

  private def docs(s: SparkSession, d: String) =
    Tables(s, d, "documents")

  /** English function words used by the language-ID / quality heuristics.
    * Kept tiny and mirrored verbatim in the oracle SQL (whose
    * regexp_matches('^(a|the|of|and|to|in)$') is exactly set membership).
    * The Spark side tests membership with `isin` — a literal In over the
    * token, evaluated as direct string equality — instead of rlike: a
    * regex-engine invocation per token on the hot text path costs ~3× the
    * whole query (the r6 bench's slowest non-iterative text row). */
  private val stopWords = Seq("a", "the", "of", "and", "to", "in")

  /** Per-document Okapi BM25 scores (k1=1.2, b=0.75, +1 idf smoothing)
    * for the fixed two-term query {spark, data} — the q_bm25 scorer,
    * factored out so the hybrid-retrieval fusion (q_hybrid_rrf) ranks
    * its lexical arm with exactly the oracle-verified formula. Returns
    * (doc_id, score, n_terms_hit); see q_bm25's registration for the
    * shape and exactness argument. */
  private[operators] def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d)
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
    val dl = toks.groupBy("doc_id")
      .agg(count(lit(1)).cast("double").as("dl"))
    val stats = dl.agg(
      avg(col("dl")).as("avgdl"),
      count(lit(1)).cast("double").as("n_docs"))
    val tf = toks.filter(col("word").isin("spark", "data"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("word")
      .agg(countDistinct(col("doc_id")).as("df"))
    tf.join(dfc, "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) /
          (col("df") + 0.5)))
      .withColumn("term_score",
        col("idf") * (col("tf") * 2.2) /
          (col("tf") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      // floor(x·1e6 + ½)/1e6, not round(x, 6): one IEEE expression both
      // engines evaluate identically on the binary value — round(x, 6)
      // is Spark's shortest-decimal half-up vs DuckDB's binary half-up,
      // which diverge on .xxxxxx5-boundary scores (the r11 MMR lesson)
      .agg((floor(sum(col("term_score")) * 1e6 + 0.5) / 1e6).as("score"),
        count(lit(1)).as("n_terms_hit"))
  }

  /** Per-document composite quality scores — the q_quality scorer
    * (length + mean-word-length + stopword-ratio), factored out so the
    * quality-aware dedup representative (Dedup q_dedup_quality_rep)
    * selects survivors with exactly the oracle-verified score. Returns
    * (doc_id, n_tokens, mean_word_len, stop_ratio, quality, keep),
    * unsorted. */
  private[operators] def qualityScores(s: SparkSession,
      d: String): DataFrame = qualityScored(s, d)
    .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
      col("stop_ratio"), col("quality"), col("keep"))

  /** [[qualityScores]] before its projection — keeps every documents
    * column (source in particular) so per-domain consumers
    * (q_mixture_weights) score in the SAME single scan instead of
    * re-joining the table against its own quality frame on doc_id. */
  private def qualityScored(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("toks", split(lower(col("text")), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("mean_word_len",
        Arith.micro6((col("n_chars") - col("n_tokens") + 1).cast("double") /
          col("n_tokens")))
      .withColumn("stop_ratio",
        Arith.micro6(nStop(col("toks")).cast("double") / col("n_tokens")))
      .withColumn("quality",
        Arith.micro6(least(col("n_tokens").cast("double") / 100, lit(1.0)) * 0.5 +
          when(col("mean_word_len").between(3.0, 10.0), 0.3).otherwise(0.0) +
          when(col("stop_ratio") > 0.02, 0.2).otherwise(0.0)))
      .withColumn("keep", col("quality") >= 0.5)

  /** DuckDB CTE chain ending in `qual(doc_id, n_tokens, mean_word_len,
    * stop_ratio, quality, keep)` — the oracle twin of [[qualityScores]],
    * shared by q_quality and q_dedup_quality_rep. */
  private[operators] val sqlQualityCtes: String =
    s"""f AS (
        SELECT doc_id, len(string_split(lower(text),' ')) AS n_tokens,
          ${Arith.sqlMicro6(
            """(n_chars - len(string_split(lower(text),' ')) + 1)::DOUBLE
                / len(string_split(lower(text),' '))""")} AS mean_word_len,
          ${Arith.sqlMicro6(
            """len([t FOR t IN string_split(lower(text),' ')
                     IF regexp_matches(t, '^(a|the|of|and|to|in)$')])::DOUBLE
                / len(string_split(lower(text),' '))""")} AS stop_ratio
        FROM documents),
      qual AS (
        SELECT doc_id, n_tokens, mean_word_len, stop_ratio,
          ${Arith.sqlMicro6(
            """least(n_tokens::DOUBLE / 100, 1.0) * 0.5 +
            CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END +
            CASE WHEN stop_ratio > 0.02 THEN 0.2 ELSE 0.0 END""")} AS quality,
          (${Arith.sqlMicro6(
            """least(n_tokens::DOUBLE / 100, 1.0) * 0.5 +
            CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END +
            CASE WHEN stop_ratio > 0.02 THEN 0.2 ELSE 0.0 END""")} >= 0.5) AS keep
        FROM f)"""

  /** Rounds of the q_mixture_weights multiplicative-weights loop —
    * shared by the Spark loop and the generated oracle CTE chain so the
    * two can't drift. 5 rounds: the linearized update converges
    * geometrically on a fixed excess signal, and round 5 is already
    * stable to the ppm on the test corpora. */
  private val mwRounds = 5

  /** η numerator for the MW step ⌊0.1·excess+½⌋, named so the Spark and
    * SQL sides read the same constant. */
  private val mwEta = 0.1

  /** Exact integer ratio both engines agree on: FLOOR of the IEEE
    * double division — every caller keeps operands < 2^53, so the cast
    * is exact and the rounded quotient is identical cross-engine (the
    * discipline of record for ratios; `DIV`-style true integer division
    * would need DECIMAL promotion instead). */
  private def idivF(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(a.cast("double") / b.cast("double")).cast("long")

  /** The scan-collapse stage of [[mixtureWeights]] — one corpus scan →
    * per-source exact integer aggregates (quality is already
    * floor-micro quantized; recover the exact integer micros and sum as
    * long, associative and partial-aggregated). Factored WITHOUT the
    * checkpoint so PlanSpec can pin the shape the checkpoint would
    * truncate out of the explained plan (the q_ngram_novelty lesson):
    * doc-level rows must collapse map-side, and the only exchange keys
    * on `source`. */
  private[graft] def mixturePerSource(s: SparkSession,
      d: String): DataFrame = qualityScored(s, d)
    .select(col("source"),
      floor(col("quality") * 1e6 + 0.5).cast("long").as("qm"))
    .groupBy("source")
    .agg(count(lit(1)).as("n_docs"), sum(col("qm")).as("qsum"))

  /** Domain-mixture solver behind q_mixture_weights — see the
    * registration comment for semantics. Returns (source, n_docs,
    * mean_quality, excess_micro, weight_ppm) ordered by source. */
  private[operators] def mixtureWeights(s: SparkSession,
      d: String): DataFrame = {
    val per = mixturePerSource(s, d).localCheckpoint()
    val tot = per.agg(sum(col("n_docs")).as("nn"), sum(col("qsum")).as("qq"),
      count(lit(1)).as("ns"))
    var w = per.crossJoin(broadcast(tot))
      .withColumn("mean_micro",
        floor(col("qsum").cast("double") / col("n_docs").cast("double") +
          0.5).cast("long"))
      .withColumn("excess_micro", col("mean_micro") -
        floor(col("qq").cast("double") / col("nn").cast("double") + 0.5)
          .cast("long"))
      .select(col("source"), col("n_docs"), col("mean_micro"),
        col("excess_micro"), idivF(lit(1000000L), col("ns")).as("w"))
      .localCheckpoint()
    Materialize.free(per)
    for (_ <- 1 to mwRounds) {
      // w·factor ≤ 1.1e12 and raw·1e6 ≤ 1.1e12 — both exact as doubles
      val raw = w.withColumn("raw", idivF(
        col("w") * (lit(1000000L) +
          floor(col("excess_micro").cast("double") * mwEta + 0.5)
            .cast("long")),
        lit(1000000L)))
      val next = raw
        .crossJoin(broadcast(raw.agg(sum(col("raw")).as("rtot"))))
        .select(col("source"), col("n_docs"), col("mean_micro"),
          col("excess_micro"),
          idivF(col("raw") * lit(1000000L), col("rtot")).as("w"))
        .localCheckpoint()
      Materialize.free(w)
      w = next
    }
    w.select(col("source"), col("n_docs"),
        (col("mean_micro").cast("double") / 1e6).as("mean_quality"),
        col("excess_micro"), col("w").as("weight_ppm"))
      .orderBy("source")
  }

  /** One DuckDB MW round as CTE text — the oracle twin of the loop body
    * in [[mixtureWeights]], kept adjacent so they can't drift. */
  private def sqlMwRound(i: Int): String =
    s"""mwr$i AS (
          SELECT source, n_docs, mean_micro, excess_micro,
            CAST(FLOOR(CAST(w * (1000000 + CAST(FLOOR(
                CAST(excess_micro AS DOUBLE) * $mwEta + 0.5) AS BIGINT))
              AS DOUBLE) / CAST(1000000 AS DOUBLE)) AS BIGINT) AS raw
          FROM mww${i - 1}),
        mww$i AS (
          SELECT source, n_docs, mean_micro, excess_micro,
            CAST(FLOOR(CAST(raw * 1000000 AS DOUBLE) /
              (SELECT CAST(SUM(raw) AS DOUBLE) FROM mwr$i)) AS BIGINT)
              AS w
          FROM mwr$i)"""

  private lazy val sqlMixtureWeightsOracle: String =
    s"""WITH $sqlQualityCtes,
        mwper AS (
          SELECT d.source, COUNT(*) AS n_docs,
            SUM(CAST(FLOOR(q.quality * 1000000 + 0.5) AS BIGINT)) AS qsum
          FROM qual q JOIN documents d USING (doc_id)
          GROUP BY d.source),
        mwtot AS (
          SELECT CAST(SUM(n_docs) AS BIGINT) AS nn,
            CAST(SUM(qsum) AS BIGINT) AS qq, COUNT(*) AS ns
          FROM mwper),
        mww0 AS (
          SELECT source, n_docs,
            CAST(FLOOR(CAST(qsum AS DOUBLE) / CAST(n_docs AS DOUBLE)
              + 0.5) AS BIGINT) AS mean_micro,
            CAST(FLOOR(CAST(qsum AS DOUBLE) / CAST(n_docs AS DOUBLE)
                + 0.5) AS BIGINT) -
              CAST(FLOOR(CAST(qq AS DOUBLE) / CAST(nn AS DOUBLE) + 0.5)
                AS BIGINT) AS excess_micro,
            CAST(FLOOR(CAST(1000000 AS DOUBLE) / CAST(ns AS DOUBLE))
              AS BIGINT) AS w
          FROM mwper, mwtot),
        ${(1 to mwRounds).map(sqlMwRound).mkString(",\n")}
        SELECT source, n_docs,
          CAST(mean_micro AS DOUBLE) / 1000000.0 AS mean_quality,
          excess_micro, w AS weight_ppm
        FROM mww$mwRounds ORDER BY source"""

  /** Shared oracle of q_curriculum and its q_curriculum_hist scale arm —
    * ONE SQL string for both registrations, so the arms cannot drift. */
  private lazy val sqlCurriculumOracle: String =
    s"""WITH $sqlQualityCtes,
        staged AS (
          SELECT CAST(ntile(4) OVER (ORDER BY quality DESC, doc_id)
            AS INTEGER) AS stage, n_tokens, quality
          FROM qual)
        SELECT stage, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
          MIN(quality) AS min_q, MAX(quality) AS max_q
        FROM staged GROUP BY stage ORDER BY stage"""

  /** Shared oracle of q_sample_budget and its shard arm. */
  private val sqlSampleBudgetOracle: String =
    """WITH r AS (
         SELECT source, n_chars,
           SUM(n_chars) OVER (PARTITION BY source
             ORDER BY md5(doc_id::VARCHAR), doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_chars AS prior
         FROM documents)
       SELECT source, COUNT(*) AS n_total,
         COUNT(*) FILTER (prior < 50000) AS n_kept,
         CAST(SUM(CASE WHEN prior < 50000 THEN n_chars ELSE 0 END)
              AS BIGINT) AS chars_kept
       FROM r GROUP BY source ORDER BY source"""

  /** Shared oracle of q_seq_pack and its shard arm. */
  private val sqlSeqPackOracle: String =
    """SELECT doc_id, source, n_chars,
         CAST(FLOOR((SUM(n_chars) OVER (PARTITION BY source
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_chars) / 4096.0) AS BIGINT) AS pack_id
       FROM documents ORDER BY source, doc_id"""

  /** DuckDB CTE chain ending in `bm25(doc_id, score, n_terms_hit)` —
    * the oracle twin of [[bm25Scores]], shared by q_bm25 and
    * q_hybrid_rrf. */
  private[operators] val sqlBm25Ctes: String =
    """toks AS (
        SELECT doc_id, word FROM (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
          FROM documents)
        WHERE word <> ''),
      dl AS (SELECT doc_id, COUNT(*)::DOUBLE AS dl FROM toks
             GROUP BY doc_id),
      stats AS (SELECT avg(dl) AS avgdl, COUNT(*)::DOUBLE AS n_docs
                FROM dl),
      tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks
             WHERE word IN ('spark', 'data') GROUP BY doc_id, word),
      dfc AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tf
              GROUP BY word),
      scored AS (
        SELECT tf.doc_id,
          ln(1.0 + (stats.n_docs - dfc.df + 0.5) / (dfc.df + 0.5)) *
            (tf.tf * 2.2) /
            (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
            AS term_score
        FROM tf JOIN dfc ON tf.word = dfc.word
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats),
      bm25 AS (
        SELECT doc_id,
          CAST(FLOOR(SUM(term_score) * 1000000 + 0.5) AS BIGINT)
            / 1000000.0 AS score,
          COUNT(*) AS n_terms_hit
        FROM scored GROUP BY doc_id)"""

  /** Batch-parameterized BM25 — [[bm25Scores]] generalized from the fixed
    * {spark, data} query to an arbitrary QUERY BATCH `qTerms(q_id LONG,
    * word STRING)`: per (query, document), the Okapi score (k1=1.2,
    * b=0.75, +1 idf smoothing) summed over that query's terms, with the
    * SAME expression tree term-for-term as the oracle-verified fixed
    * scorer. Returns (q_id, doc_id, score).
    *
    * Scale shape: the corpus is scanned ONCE for the union of all
    * queries' terms — dl/avgdl are query-independent, tf filters the
    * token stream through a broadcast of the distinct term set, df is
    * per-word corpus df (query-independent, so shared across queries that
    * repeat a term) — and the (q_id, word) fan-out joins the tf table
    * against the broadcast query batch, so work scales with
    * (matched postings × queries-per-term), never corpus × queries.
    *
    * Exactness: per-(q_id, doc_id) the score sums ≤ 2 doubles for the
    * 2-term queries used by the oracle rows — IEEE addition is
    * commutative, so the sum is shuffle-order-proof; queries with ≥ 3
    * terms would need the Arith round-6/decimal-sum discipline. */
  private[operators] def bm25ScoresBatch(s: SparkSession, d: String,
      qTerms: DataFrame): DataFrame = {
    val toks = docs(s, d)
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
    val dl = toks.groupBy("doc_id")
      .agg(count(lit(1)).cast("double").as("dl"))
    val stats = dl.agg(
      avg(col("dl")).as("avgdl"),
      count(lit(1)).cast("double").as("n_docs"))
    val words = qTerms.select(col("word")).distinct()
    val tf = toks.join(broadcast(words), "word")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("word")
      .agg(countDistinct(col("doc_id")).as("df"))
    tf.join(broadcast(dfc), "word")
      .join(broadcast(qTerms), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) /
          (col("df") + 0.5)))
      .withColumn("term_score",
        col("idf") * (col("tf") * 2.2) /
          (col("tf") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("q_id", "doc_id")
      // same floor-micro quantization as [[bm25Scores]]
      .agg((floor(sum(col("term_score")) * 1e6 + 0.5) / 1e6).as("score"))
  }

  /** DuckDB CTE chain ending in `lexs(q_id, doc_id, score)` — the oracle
    * twin of [[bm25ScoresBatch]] against the query batch held in a CTE
    * named `qt(q_id BIGINT, word)` that the caller prepends. */
  private[operators] val sqlBm25BatchCtes: String =
    """btoks AS (
        SELECT doc_id, word FROM (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
          FROM documents)
        WHERE word <> ''),
      bdl AS (SELECT doc_id, COUNT(*)::DOUBLE AS dl FROM btoks
              GROUP BY doc_id),
      bstats AS (SELECT avg(dl) AS avgdl, COUNT(*)::DOUBLE AS n_docs
                 FROM bdl),
      btf AS (SELECT doc_id, word, COUNT(*) AS tf FROM btoks
              WHERE word IN (SELECT word FROM qt) GROUP BY doc_id, word),
      bdfc AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM btf
               GROUP BY word),
      bscored AS (
        SELECT qt.q_id, btf.doc_id,
          ln(1.0 + (bstats.n_docs - bdfc.df + 0.5) / (bdfc.df + 0.5)) *
            (btf.tf * 2.2) /
            (btf.tf + 1.2 * (0.25 + 0.75 * bdl.dl / bstats.avgdl))
            AS term_score
        FROM btf JOIN bdfc ON btf.word = bdfc.word
        JOIN qt ON btf.word = qt.word
        JOIN bdl ON btf.doc_id = bdl.doc_id
        CROSS JOIN bstats),
      lexs AS (
        SELECT q_id, doc_id,
          CAST(FLOOR(SUM(term_score) * 1000000 + 0.5) AS BIGINT)
            / 1000000.0 AS score
        FROM bscored GROUP BY q_id, doc_id)"""

  /** Overlapping token-window chunking of `(doc_id, text)` rows: windows
    * of `window` tokens starting every `stride` tokens (stride < window ⇒
    * `window − stride` tokens of overlap). Chunk count is the closed form
    * 1 + ⌈max(n−window, 0)/stride⌉ — computed with `div` (truncating
    * integer division, = floor on the non-negative operands here) so both
    * engines do exact integer arithmetic — and the final chunk is clipped
    * to the document end (`chunk_len ≤ window`, ≥ 1). Empty-token docs
    * drop out. `chunk_md5` hashes the space-joined window so the compare
    * pins the exact token slice, not just its coordinates.
    */
  def chunkTokens(df: org.apache.spark.sql.DataFrame,
      window: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(0 < stride && stride <= window, s"bad window/stride $window/$stride")
    df.select(col("doc_id"),
        filter(split(lower(col("text")), " "), t => t =!= "").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") > 0)
      .withColumn("m",
        lit(1L) + expr(s"(greatest(n - $window, 0L) + ${stride - 1}) div $stride"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("m") - 1)).as("chunk_id"))
      .withColumn("start", col("chunk_id") * stride)
      .withColumn("chunk_len",
        least(lit(window.toLong), col("n") - col("start")))
      .select(col("doc_id"), col("chunk_id"), col("start"), col("chunk_len"),
        md5(concat_ws(" ", slice(col("toks"),
          (col("start") + 1).cast("int"), col("chunk_len").cast("int"))))
          .as("chunk_md5"))
  }

  /** Per-document Shannon character entropy in nats over `(doc_id, text)`
    * rows: H = ln(n) − (Σ c·ln c)/n with c the per-character counts.
    * Each c·ln c term is ln of a SMALL INTEGER rounded to 6dp and summed
    * as DECIMAL(38,6) (the Arith discipline) so the per-doc sum is
    * shuffle-order-independent; a single-character document scores
    * exactly 0 (ln n − (round-off of n·ln n)/n rounds back to 0 at 6dp
    * for any n ≤ ~1e6). Distinct-char state per doc is bounded by the
    * alphabet, never the text length.
    */
  def charEntropy(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).cast("long").as("n_chars"),
        count(lit(1)).as("n_distinct"),
        sum(Arith.micro6(col("c").cast("double") * log(col("c").cast("double")))
          .cast("decimal(38,6)")).as("sclog"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct"),
        // + 0.0 normalizes a −0.0 (floor-micro of a tiny negative yields
        // long 0, whose double is +0.0 on both engines, so this is now
        // belt-and-braces — kept because it documents the IEEE hazard)
        (Arith.micro6(log(col("n_chars").cast("double")) -
          col("sclog").cast("double") / col("n_chars")) + lit(0.0))
          .as("entropy"))

  /** Count of stop-word tokens in a token-array column (repeats count). */
  private def nStop(toks: org.apache.spark.sql.Column) =
    size(filter(toks, t => t.isin(stopWords: _*))).cast("long")

  /** q_ngram_novelty's dataflow, parameterized on checkpointing: the
    * registered row eagerly localCheckpoints the distinct (source, wh)
    * frame (it is consumed twice — claim pass + credit join); PlanSpec
    * builds the `checkpoint = false` variant so the distinct's
    * hashpartitioning(source, wh) exchange — the LARGEST stage, where
    * the "text never leaves the scan" claim matters most — is actually
    * present in the explained plan and pinned (r17 ADVICE: the
    * checkpoint truncated it out of the assertion). */
  private[graft] def ngramNovelty(s: SparkSession, d: String,
      checkpoint: Boolean = true): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws0 = windowHashes(docs(s, d), 5, Seq("source"))
      .select("source", "wh").distinct()
    val ws = if (checkpoint) ws0.localCheckpoint() else ws0
    // r19: the claim pass mins an INT source rank, not the source string.
    // min(string)'s immutable aggregation buffer is not hash-aggregable,
    // so Spark planned SortAggregate — a full per-partition sort (partial
    // AND final) of the corpus-sized distinct (source, wh) frame, the
    // row's largest stage. Ranks come from a broadcast dim over the
    // BOUNDED source taxonomy (the one-task rank window holds S rows,
    // never data), rank is monotone in name order, so min(rank) picks
    // the same first source — and the int buffer hash-aggregates
    // map-side.
    val dim = ws.select("source").distinct()
      .withColumn("src_rank", row_number().over(Window.orderBy("source")))
    val wsR = ws.join(broadcast(dim), "source")
    val first = wsR.groupBy("wh").agg(min(col("src_rank")).as("first_rank"))
    wsR.join(first, Seq("wh"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("first_rank") === col("src_rank"), lit(1)))
          .as("n_novel"))
      .withColumn("novelty_ppm", expr(
        "CAST(n_novel AS DECIMAL(38,0)) * 1000000 div n_grams"))
      .select(col("source"), col("n_grams"), col("n_novel"),
        col("novelty_ppm"))
      .orderBy("source")
  }

  /** (doc_id, gram): per-doc DISTINCT n-token window grams as TEXT —
    * the recovery twin of [[windowHashes]] (same tokenization, same
    * distinct rule, gram instead of md5(gram)). Only ever scanned
    * against a broadcast top-k hash set: corpus-wide dataflows carry
    * hashes, text leaves the scan solely for the k winners. */
  private def windowGrams(
      df: org.apache.spark.sql.DataFrame,
      n: Int): org.apache.spark.sql.DataFrame = df
    .withColumn("toks", split(col("text"), " "))
    .filter(size(col("toks")) >= n)
    .select(col("doc_id"), explode(array_distinct(
      transform(sequence(lit(0), size(col("toks")) - n),
        i => concat_ws(" ", slice(col("toks"), i + 1, lit(n))))))
      .as("gram"))

  /** (doc_id, wh): the distinct md5 hashes of every n-token window of
    * `text`; documents with fewer than n tokens drop out. One definition
    * shared by q_substring_dup (n=10) and q_decontaminate (n=5) — and
    * mirrored verbatim in both oracles — so the window rule cannot drift
    * between the operators that compare window sets. */
  private[operators] def windowHashes(
      df: org.apache.spark.sql.DataFrame, n: Int,
      carry: Seq[String] = Nil): org.apache.spark.sql.DataFrame = df
    .withColumn("toks", split(col("text"), " "))
    .filter(size(col("toks")) >= n)
    .select((col("doc_id") +: carry.map(col)) :+ explode(array_distinct(
      transform(sequence(lit(0), size(col("toks")) - n),
        i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(n)))))))
      .as("wh"): _*)

  val queries: Seq[Q] = Seq(

    // ---- word count (the reference's flagship job, Q1-Q4) -----------------
    Q("q_wordcount",
      (s, d) => docs(s, d)
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy("word"),
      Some("""SELECT word, COUNT(*) AS cnt FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS word
                FROM documents)
              WHERE word <> '' GROUP BY word ORDER BY word""")),

    // ---- vocabulary head-coverage table -----------------------------------
    // The tokenizer-design table: rank the word vocabulary by frequency
    // and report, for the top-50 head, each type's cumulative corpus
    // coverage in ppm — how much of the token stream the first k types
    // explain (the curve that sizes a vocabulary and predicts OOV/
    // fertility trade-offs; the head is where Zipf puts all the mass).
    // Shapes: the corpus-sized work is q_wordcount's partial-aggregated
    // type table; the top-50 cut is a TakeOrderedAndProject; the
    // cumulative window then runs over FIFTY rows (config-bounded, not
    // vocabulary-sized) against a 1-row broadcast total. Coverage is
    // floor long division — exact on both engines.
    Q("q_vocab_coverage",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val counts = docs(s, d)
          .select(explode(split(lower(col("text")), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy("word").agg(count(lit(1)).as("cnt"))
          .localCheckpoint() // consumed twice: total + head
        val tot = counts.agg(sum(col("cnt")).cast("long").as("total"))
        val w = Window.orderBy(col("cnt").desc, col("word"))
        counts.orderBy(col("cnt").desc, col("word")).limit(50)
          .crossJoin(broadcast(tot))
          .withColumn("rank", row_number().over(w))
          .withColumn("cum_ppm", expr(
            "sum(cnt) over (order by cnt desc, word " +
              "rows between unbounded preceding and current row) " +
              "* 1000000L div total"))
          .select(col("rank"), col("word"), col("cnt"), col("cum_ppm"))
          .orderBy("rank")
      },
      Some("""WITH c AS (
                SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
                  SELECT unnest(string_split(lower(text), ' ')) AS word
                  FROM documents)
                WHERE word <> '' GROUP BY word),
              t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
              head AS (
                SELECT word, cnt FROM c
                ORDER BY cnt DESC, word LIMIT 50)
              SELECT
                CAST(row_number() OVER (ORDER BY cnt DESC, word)
                  AS INTEGER) AS rank,
                word, cnt,
                CAST(SUM(cnt) OVER (ORDER BY cnt DESC, word
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  * 1000000 // total AS BIGINT) AS cum_ppm
              FROM head CROSS JOIN t
              ORDER BY rank""")),

    // ---- grep (Q5/Q6: case-insensitive substring filter + project) -------
    Q("q_grep",
      (s, d) => docs(s, d)
        .filter(lower(col("text")).contains("spark"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source, n_chars FROM documents
              WHERE contains(lower(text), 'spark') ORDER BY doc_id""")),

    // ---- corpus statistics ------------------------------------------------
    Q("q_text_stats",
      (s, d) => docs(s, d)
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang", "source"),
      // CAST the SUMs: DuckDB SUM(BIGINT) widens to a decimal128 in Arrow,
      // which value-compares equal to Spark's int64 but hash-compares
      // different in the driver's typed compare.
      Some("""SELECT lang, source, COUNT(*) AS n_docs,
              CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
              CAST(SUM(n_chars) AS BIGINT) AS total_chars,
              MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
              FROM documents GROUP BY lang, source ORDER BY lang, source""")),

    // ---- language ID (stopword-ratio heuristic) ---------------------------
    // A real n-gram language model is a lookup-table join at scale; the
    // operator shape (tokenize → per-doc feature ratio → threshold CASE)
    // is identical, so the heuristic stands in for it deterministically.
    Q("q_lang_id",
      (s, d) => docs(s, d)
        .withColumn("toks", split(lower(col("text")), " "))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("n_stop", nStop(col("toks")))
        .withColumn("stop_ratio",
          Arith.micro6(col("n_stop").cast("double") / col("n_tokens")))
        .withColumn("pred_lang",
          when(col("stop_ratio") >= 0.08, "en").otherwise("und"))
        .select(col("doc_id"), col("n_tokens"), col("n_stop"),
          col("stop_ratio"), col("pred_lang"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, len(toks) AS n_tokens,
              len([t FOR t IN toks IF regexp_matches(t, '^(a|the|of|and|to|in)$$')]) AS n_stop,
              ${Arith.sqlMicro6(
                """len([t FOR t IN toks IF regexp_matches(t, '^(a|the|of|and|to|in)$')])::DOUBLE
                    / len(toks)""")} AS stop_ratio,
              CASE WHEN ${Arith.sqlMicro6(
                """len([t FOR t IN toks IF regexp_matches(t, '^(a|the|of|and|to|in)$')])::DOUBLE
                    / len(toks)""")} >= 0.08 THEN 'en' ELSE 'und' END AS pred_lang
              FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
                    FROM documents) ORDER BY doc_id""")),

    // ---- quality scoring --------------------------------------------------
    // Length + mean-word-length + stopword-ratio composite, the standard
    // cheap pre-filter in front of expensive model-based quality scoring.
    Q("q_quality",
      (s, d) => qualityScores(s, d).orderBy("doc_id"),
      Some(s"""WITH $sqlQualityCtes
              SELECT doc_id, n_tokens, mean_word_len, stop_ratio,
                quality, keep
              FROM qual ORDER BY doc_id""")),

    // ---- curriculum staging ----------------------------------------------
    // Curriculum construction over the quality scorer: rank the corpus by
    // the oracle-verified q_quality score (best first, ties to lower
    // doc_id), split into 4 equal-size stages with ntile, and report each
    // stage's doc count, token mass, and quality range — the schedule
    // table a curriculum-trained run consumes (stage 1 = cleanest docs
    // first). The ntile here is a single global-order window — the
    // reference arm; q_curriculum_hist below is the scale path, held to
    // this oracle verbatim. Aggregates are exact longs over the round-6
    // kernel scores.
    Q("q_curriculum",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.orderBy(col("quality").desc, col("doc_id"))
        qualityScores(s, d)
          .withColumn("stage", ntile(4).over(w))
          .groupBy("stage")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            min(col("quality")).as("min_q"),
            max(col("quality")).as("max_q"))
          .orderBy("stage")
      },
      Some(sqlCurriculumOracle)),

    // ---- curriculum staging, scale arm -------------------------------------
    // The 100 TB plan for the SAME stage table, with no global-order
    // window anywhere: the corpus shards on a quality-prefix (256
    // order-prefix buckets over the micro6 score), per-shard doc counts
    // collapse to a histogram whose offsets come from a bounded
    // self-join, and each doc's exact global rank is its shard offset +
    // a shard-local row number — so the ntile assignment becomes a
    // closed-form CASE over (rank, N) with NO task ever sorting more
    // than ~1/256 of the corpus. Bit-identical to the ntile arm by
    // construction (the shard is an order prefix and the tiebreak is
    // total), and held to the same DuckDB oracle. Spark's own ntile
    // sizing rule is inlined: with N = q·4 + r, the first r stages take
    // q+1 docs and the rest take q.
    Q("q_curriculum_hist",
      (s, d) => {
        val ranked = graft.plans.PrefixSum.shardedPrior(
          qualityScores(s, d)
            .withColumn("__qm",
              floor(col("quality") * 1e6 + 0.5).cast("long")),
          Seq.empty,
          expr("(1000000L - __qm) * 256 DIV 1000001"),
          Seq(col("quality").desc, col("doc_id")), lit(1L))
        val n = qualityScores(s, d).agg(count(lit(1)).as("__n"))
        ranked.crossJoin(broadcast(n))
          .withColumn("__rank", col("prior") + lit(1L))
          .withColumn("stage", expr(
            """CAST(CASE
                 WHEN __rank <= (__n % 4) * ((__n DIV 4) + 1)
                 THEN ((__rank - 1) DIV ((__n DIV 4) + 1)) + 1
                 ELSE (__n % 4) +
                      ((__rank - (__n % 4) * ((__n DIV 4) + 1) - 1)
                         DIV GREATEST(__n DIV 4, 1)) + 1
               END AS INT)"""))
          .groupBy("stage")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            min(col("quality")).as("min_q"),
            max(col("quality")).as("max_q"))
          .orderBy("stage")
      },
      Some(sqlCurriculumOracle)),

    // ---- token counting (BPE-ish regex tokenizer) -------------------------
    // Pre-tokenizer regex in the GPT-2 spirit: words | digit runs | other.
    // regexp_extract_all is codegen'd; counts aggregate per source.
    Q("q_token_count",
      (s, d) => docs(s, d)
        .withColumn("n_bpe",
          size(regexp_extract_all(lower(col("text")),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_bpe")).as("total_bpe"),
          min(col("n_bpe")).as("min_bpe"), max(col("n_bpe")).as("max_bpe"))
        .orderBy("source"),
      Some("""SELECT source, COUNT(*) AS n_docs,
              CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS total_bpe,
              MIN(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS min_bpe,
              MAX(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS max_bpe
              FROM documents GROUP BY source ORDER BY source""")),

    // ---- TF-IDF ----------------------------------------------------------
    // Classic two-pass weighting: term frequency per (doc, word), document
    // frequency per word, then the top-scoring term per document. Fully
    // in-plan: the corpus size is a 1-row broadcast aggregate (NO
    // plan-build-time count() action), and the df table joins by SHUFFLE —
    // a web-scale corpus has 10⁸+ distinct tokens, far past any broadcast
    // budget, and tf is already hash-partitioned so the extra exchange is
    // df-sized only. Every stage is a linear shuffle: explode →
    // partial-aggregated counts → shuffle df join → per-doc window.
    Q("q_tfidf",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val n = docs(s, d)
          .agg(count(lit(1)).cast("double").as("corpus_n"))
        val tf = docs(s, d)
          .select(col("doc_id"),
            explode(split(lower(col("text")), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("word")
          .agg(countDistinct(col("doc_id")).as("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("word"))
        tf.join(df, "word")
          .crossJoin(broadcast(n))
          .withColumn("score",
            Arith.micro6(col("tf") * log(col("corpus_n") / col("df"))))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("doc_id"), col("word").as("top_term"),
            col("tf"), col("df"), col("score"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tf AS (
                SELECT doc_id, word, COUNT(*) AS tf FROM (
                  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
                  FROM documents)
                WHERE word <> '' GROUP BY doc_id, word),
              dfc AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY word),
              n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
              scored AS (
                SELECT tf.doc_id, tf.word, tf.tf, dfc.df,
                  ${Arith.sqlMicro6("tf.tf * ln(n.n / dfc.df)")} AS score
                FROM tf, dfc, n WHERE tf.word = dfc.word)
              SELECT doc_id, word AS top_term, tf, df, score FROM (
                SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, word) AS rk
                FROM scored)
              WHERE rk = 1 ORDER BY doc_id""")),

    // ---- BM25 retrieval scoring -------------------------------------------
    // Okapi BM25 (k1=1.2, b=0.75, Lucene's +1 idf smoothing) for a fixed
    // two-term query — the ranking function a corpus-search/retrieval
    // layer runs over the same tf/df machinery as q_tfidf. Shapes: token
    // explode → per-doc length (one groupBy), a 1-row broadcast (N,
    // avgdl), per-term df (bounded by |query| keys), then a per-doc sum
    // over the query terms. The per-doc score sums exactly TWO doubles —
    // IEEE addition is commutative, so aggregation order cannot change
    // the result (at ≥3 terms you'd round per-term first or sum
    // decimals). Top-20 by (score, doc_id) is a TakeOrderedAndProject.
    // Scoring is factored out ([[bm25Scores]]) so the hybrid-retrieval
    // fusion arm (Similarity q_hybrid_rrf) ranks with the SAME lexical
    // scorer this row verifies.
    Q("q_bm25",
      (s, d) => bm25Scores(s, d)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20),
      Some(s"""WITH $sqlBm25Ctes
              SELECT doc_id, score, n_terms_hit
              FROM bm25 ORDER BY score DESC, doc_id LIMIT 20""")),

    // ---- unigram language-model scoring -----------------------------------
    // Mean unigram log-probability per document against the corpus's own
    // distribution — the cheap statistical fluency signal (very negative =
    // rare-token soup) between heuristics (q_quality) and a real LM. The
    // per-token logprobs join back by a SHUFFLE join (the vocabulary is
    // corpus-sized — the q_tfidf df-join call, not a broadcast); the
    // corpus total is a 1-row broadcast. A per-doc sum of HUNDREDS of
    // doubles would be partitioning-dependent, so each term rounds to 6dp
    // and sums as DECIMAL(38,6) — the Arith discipline — making the score
    // bit-stable across any shuffle order and both engines.
    Q("q_unigram_logprob",
      (s, d) => {
        val toks = docs(s, d)
          .select(col("doc_id"),
            explode(split(lower(col("text")), " ")).as("word"))
          .filter(col("word") =!= "")
        val cnt = toks.groupBy("word").agg(count(lit(1)).as("wc"))
        val tot = toks.agg(count(lit(1)).cast("double").as("tot"))
        toks.join(cnt, "word")
          .crossJoin(broadcast(tot))
          .withColumn("lp",
            Arith.micro6(log(col("wc") / col("tot"))).cast("decimal(38,6)"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            Arith.micro6(sum(col("lp")).cast("double") / count(lit(1)))
              .as("avg_logprob"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
                SELECT doc_id, word FROM (
                  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
                  FROM documents)
                WHERE word <> ''),
              cnt AS (SELECT word, COUNT(*) AS wc FROM toks GROUP BY word),
              tot AS (SELECT COUNT(*)::DOUBLE AS tot FROM toks)
              SELECT doc_id, COUNT(*) AS n_tokens,
                ${Arith.sqlMicro6(s"""CAST(SUM(CAST(${Arith.sqlMicro6(
                    "ln(wc / tot)")} AS DECIMAL(38,6)))
                           AS DOUBLE) / COUNT(*)""")} AS avg_logprob
              FROM toks JOIN cnt USING (word) CROSS JOIN tot
              GROUP BY doc_id ORDER BY doc_id""")),

    // ---- bigram language-model scoring ------------------------------------
    // Mean bigram CONDITIONAL log-probability ln(c(w1,w2)/c(w1·)) per doc
    // — one Markov order above q_unigram_logprob, the shape of a
    // KenLM-style perplexity filter with the corpus as its own training
    // set (so every bigram has count ≥ 1 and no smoothing is needed;
    // c(w1·) counts bigram STARTS, making each row a true conditional).
    // Scale: the bigram vocabulary is corpus-sized → per-term logprobs
    // join back by SHUFFLE join on the bigram key; both count tables come
    // from one pass over the same exploded pairs. Per-doc sums follow the
    // Arith discipline (round 6dp → DECIMAL(38,6)) so hundreds of doubles
    // sum order-independently; ln() of a ratio of small integers is
    // ulp-identical in both engines (pinned green, same as unigram).
    Q("q_bigram_lm",
      (s, d) => {
        val pairs = docs(s, d)
          .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
          .select(col("doc_id"), explode(arrays_zip(
            slice(col("toks"), lit(1), size(col("toks")) - 1).as("w1"),
            slice(col("toks"), lit(2), size(col("toks")) - 1).as("w2")))
            .as("p"))
          .filter(col("p.w1") =!= "" && col("p.w2") =!= "")
          .select(col("doc_id"),
            concat_ws(" ", col("p.w1"), col("p.w2")).as("bg"),
            col("p.w1").as("w1"))
        val c2 = pairs.groupBy("bg").agg(count(lit(1)).as("c2"))
        val c1 = pairs.groupBy("w1").agg(count(lit(1)).as("c1"))
        pairs.join(c2, "bg").join(c1, "w1")
          .withColumn("lp",
            Arith.micro6(log(col("c2").cast("double") / col("c1")))
              .cast("decimal(38,6)"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            Arith.micro6(sum(col("lp")).cast("double") / count(lit(1)))
              .as("avg_logprob"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (
                SELECT doc_id, string_split(lower(text), ' ') AS toks
                FROM documents),
              u AS (
                SELECT doc_id, unnest(toks) AS w,
                  generate_subscripts(toks, 1) AS i
                FROM t),
              pairs AS (
                SELECT a.doc_id, a.w || ' ' || b.w AS bg, a.w AS w1
                FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.i = a.i + 1
                WHERE a.w <> '' AND b.w <> ''),
              c2 AS (SELECT bg, COUNT(*) AS c2 FROM pairs GROUP BY bg),
              c1 AS (SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY w1)
              SELECT doc_id, COUNT(*) AS n_bigrams,
                ${Arith.sqlMicro6(s"""CAST(SUM(CAST(${Arith.sqlMicro6(
                    "ln(CAST(c2 AS DOUBLE) / c1)")}
                           AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)""")}
                  AS avg_logprob
              FROM pairs JOIN c2 USING (bg) JOIN c1 USING (w1)
              GROUP BY doc_id ORDER BY doc_id""")),

    // ---- held-out perplexity filter (CCNet-style) -------------------------
    // The LM quality gate production pipelines actually run: train the
    // bigram LM on the TRAIN split only (the q_sample_split hash rule, so
    // train membership is per-row decidable and stable under growth),
    // then score EVERY document against it — held-out docs now contain
    // bigrams the model never saw, which is the whole point: unlike
    // q_bigram_lm's corpus-as-own-training-set, this needs real smoothing.
    // Stupid backoff (Brants et al. 2007): lp = ln(c2/c1) when the bigram
    // was seen in train, else ln(0.4·cu(w2)/tot) down to the OOV floor
    // ln(0.4·1/tot) — no normalization pass, no extra shuffle, exactly
    // the large-corpus trade the paper made. keep = avg lp ≥ τ; τ=-3.46
    // is a config constant tuned per corpus exactly as CCNet tunes its
    // per-language perplexity cutoffs (here the ~5th percentile at
    // sf0.01, so the gate visibly drops the worst tail while the exact
    // per-row decision is still oracle-hash-pinned). Scale: count
    // tables are vocab-sized → LEFT
    // shuffle joins on bg/w1/w2 (never broadcast), each built with
    // map-side partial aggregation from one exploded pass; `tot` is a
    // 1-row broadcast. Cross-engine exactness: every lp is ln of a ratio
    // of exact integers (or 0.4·that — one IEEE multiply of identical
    // doubles), rounded 6dp → DECIMAL(38,6) per the Arith discipline so
    // per-doc sums are shuffle-order-independent.
    Q("q_perplexity_filter",
      (s, d) => {
        val base = docs(s, d).select(col("doc_id"),
          (substring(md5(col("doc_id").cast("string")), 1, 2) >= "1a")
            .as("is_train"),
          split(lower(col("text")), " ").as("toks"))
        val toks = base
          .select(col("doc_id"), col("is_train"), explode(col("toks")).as("w"))
          .filter(col("w") =!= "")
        val pairs = base.select(col("doc_id"), col("is_train"),
            explode(arrays_zip(
              slice(col("toks"), lit(1), size(col("toks")) - 1).as("w1"),
              slice(col("toks"), lit(2), size(col("toks")) - 1).as("w2")))
              .as("p"))
          .filter(col("p.w1") =!= "" && col("p.w2") =!= "")
          .select(col("doc_id"), col("is_train"),
            concat_ws(" ", col("p.w1"), col("p.w2")).as("bg"),
            col("p.w1").as("w1"), col("p.w2").as("w2"))
        val c2 = pairs.filter(col("is_train"))
          .groupBy("bg").agg(count(lit(1)).as("c2"))
        val c1 = pairs.filter(col("is_train"))
          .groupBy("w1").agg(count(lit(1)).as("c1"))
        val cu = toks.filter(col("is_train"))
          .groupBy("w").agg(count(lit(1)).as("cu"))
          .withColumnRenamed("w", "w2")
        val tot = toks.filter(col("is_train")).agg(count(lit(1)).as("tot"))
        pairs.join(c2, Seq("bg"), "left")
          .join(c1, Seq("w1"), "left")
          .join(cu, Seq("w2"), "left")
          .crossJoin(broadcast(tot))
          .withColumn("lp", Arith.micro6(
            when(col("c2").isNotNull,
              log(col("c2").cast("double") / col("c1")))
              .otherwise(log(lit(0.4) *
                coalesce(col("cu"), lit(1L)).cast("double") /
                col("tot").cast("double")))).cast("decimal(38,6)"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            count_if(col("c2").isNull).as("n_backoff"),
            Arith.micro6(sum(col("lp")).cast("double") / count(lit(1)))
              .as("avg_logprob"))
          .withColumn("held_out",
            substring(md5(col("doc_id").cast("string")), 1, 2) < "1a")
          .withColumn("keep", col("avg_logprob") >= -3.46)
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (
                SELECT doc_id,
                  substr(md5(doc_id::VARCHAR), 1, 2) >= '1a' AS is_train,
                  string_split(lower(text), ' ') AS toks
                FROM documents),
              u AS (
                SELECT doc_id, is_train, w FROM (
                  SELECT doc_id, is_train, unnest(toks) AS w FROM t)
                WHERE w <> ''),
              up AS (
                SELECT doc_id, is_train, unnest(toks) AS w,
                  generate_subscripts(toks, 1) AS i
                FROM t),
              pairs AS (
                SELECT a.doc_id, a.is_train, a.w || ' ' || b.w AS bg,
                  a.w AS w1, b.w AS w2
                FROM up a JOIN up b
                  ON a.doc_id = b.doc_id AND b.i = a.i + 1
                WHERE a.w <> '' AND b.w <> ''),
              c2 AS (SELECT bg, COUNT(*) AS c2 FROM pairs
                     WHERE is_train GROUP BY bg),
              c1 AS (SELECT w1, COUNT(*) AS c1 FROM pairs
                     WHERE is_train GROUP BY w1),
              cu AS (SELECT w AS w2, COUNT(*) AS cu FROM u
                     WHERE is_train GROUP BY w),
              tot AS (SELECT COUNT(*) AS tot FROM u WHERE is_train),
              sc AS (
                SELECT p.doc_id,
                  CAST(${Arith.sqlMicro6(
                    """CASE WHEN c2.c2 IS NOT NULL
                    THEN ln(CAST(c2.c2 AS DOUBLE) / c1.c1)
                    ELSE ln(0.4 * CAST(COALESCE(cu.cu, 1) AS DOUBLE) /
                            CAST(tot.tot AS DOUBLE)) END""")}
                    AS DECIMAL(38,6)) AS lp,
                  (c2.c2 IS NULL) AS backoff
                FROM pairs p LEFT JOIN c2 USING (bg)
                LEFT JOIN c1 USING (w1) LEFT JOIN cu USING (w2)
                CROSS JOIN tot)
              SELECT doc_id, COUNT(*) AS n_bigrams,
                COUNT(*) FILTER (backoff) AS n_backoff,
                ${Arith.sqlMicro6(
                  "CAST(SUM(lp) AS DOUBLE) / COUNT(*)")} AS avg_logprob,
                substr(md5(doc_id::VARCHAR), 1, 2) < '1a' AS held_out,
                (${Arith.sqlMicro6(
                  "CAST(SUM(lp) AS DOUBLE) / COUNT(*)")} >= -3.46)
                  AS keep
              FROM sc GROUP BY doc_id ORDER BY doc_id""")),

    // ---- PMI collocation mining -------------------------------------------
    // Top-30 collocations by pointwise mutual information over adjacent
    // token pairs: PMI = ln(c(w1,w2)·N / (c(w1·)·c(·w2))) with marginals
    // counted over the SAME bigram events, so probabilities sum to 1 by
    // construction. The corpus-analysis staple for finding multi-word
    // units ("new york") before vocabulary building. A min-support gate
    // (c ≥ 5) keeps the rare-pair noise PMI rewards out — and is applied
    // BEFORE the marginal joins so only frequent pairs shuffle twice.
    // All counts are longs; c·N and ca·cb stay < 2^53, so the one double
    // division and ln are deterministic cross-engine (the LM-row
    // discipline). Marginals are corpus-sized → shuffle joins on the
    // word keys; the top-30 is TakeOrderedAndProject.
    Q("q_cooccur_pmi",
      (s, d) => {
        val base = docs(s, d)
          .select(split(lower(col("text")), " ").as("toks"))
          .select(explode(arrays_zip(
            slice(col("toks"), lit(1), size(col("toks")) - 1).as("w1"),
            slice(col("toks"), lit(2), size(col("toks")) - 1).as("w2")))
            .as("p"))
          .filter(col("p.w1") =!= "" && col("p.w2") =!= "")
          .select(concat_ws(" ", col("p.w1"), col("p.w2")).as("bg"),
            col("p.w1").as("w1"), col("p.w2").as("w2"))
        val c2 = base.groupBy("bg", "w1", "w2")
          .agg(count(lit(1)).as("c2")).filter(col("c2") >= 5)
        val ca = base.groupBy("w1").agg(count(lit(1)).as("ca"))
        val cb = base.groupBy("w2").agg(count(lit(1)).as("cb"))
        val n2 = base.agg(count(lit(1)).as("n2"))
        c2.join(ca, "w1").join(cb, "w2").crossJoin(broadcast(n2))
          .select(col("bg"), col("c2"),
            Arith.micro6(log((col("c2") * col("n2")).cast("double") /
              (col("ca") * col("cb")).cast("double"))).as("pmi"))
          .orderBy(col("pmi").desc, col("bg"))
          .limit(30)
      },
      Some(s"""WITH t AS (
                SELECT doc_id, string_split(lower(text), ' ') AS toks
                FROM documents),
              u AS (
                SELECT doc_id, unnest(toks) AS w,
                  generate_subscripts(toks, 1) AS i
                FROM t),
              pairs AS (
                SELECT a.w || ' ' || b.w AS bg, a.w AS w1, b.w AS w2
                FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.i = a.i + 1
                WHERE a.w <> '' AND b.w <> ''),
              c2 AS (
                SELECT bg, w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
                FROM pairs GROUP BY bg, w1, w2 HAVING COUNT(*) >= 5),
              ca AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS ca
                     FROM pairs GROUP BY w1),
              cb AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS cb
                     FROM pairs GROUP BY w2),
              n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n2 FROM pairs)
              SELECT bg, c2,
                ${Arith.sqlMicro6(
                  "ln(CAST(c2 * n2 AS DOUBLE) / CAST(ca * cb AS DOUBLE))")}
                  AS pmi
              FROM c2 JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN n2
              ORDER BY pmi DESC, bg LIMIT 30""")),

    // ---- hashed linear-model inference ------------------------------------
    // The fastText-shaped quality classifier at its 100 TB execution
    // shape: bag-of-tokens → hashing-trick features → linear margin. The
    // "model" is a weight per hash bucket; because the bucket weight is
    // derived from the hash itself (md5 → first 4 hex chars → signed
    // 16-bit integer), there is NO weight table to broadcast and the
    // whole scorer is one codegen'd per-row fold over the token array —
    // zero shuffles, zero joins, exact LONG arithmetic (a real trained
    // model swaps in a broadcast map lookup; the plan shape is identical).
    // Margin > 0 is the keep gate; output stays sorted for the hash
    // compare.
    Q("q_quality_classifier",
      (s, d) => docs(s, d)
        .select(col("doc_id"),
          filter(split(lower(col("text")), " "), t => t =!= "").as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
          aggregate(col("toks"), lit(0L), (acc, t) =>
            acc + (conv(substring(md5(concat(lit("w_"), t)), 1, 4), 16, 10)
              .cast("long") - 32768L)).as("margin"))
        .withColumn("keep", col("margin") > 0)
        .orderBy("doc_id"),
      // hex → int spelled per char (no conv() in DuckDB):
      // d1*4096 + d2*256 + d3*16 + d4, digits via strpos (1-based, so −1)
      Some("""WITH t AS (
                SELECT doc_id,
                  [x FOR x IN string_split(lower(text), ' ') IF x <> '']
                    AS toks
                FROM documents)
              SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(COALESCE(list_sum([
                    (strpos('0123456789abcdef', substr(md5('w_' || x), 1, 1)) - 1) * 4096
                  + (strpos('0123456789abcdef', substr(md5('w_' || x), 2, 1)) - 1) * 256
                  + (strpos('0123456789abcdef', substr(md5('w_' || x), 3, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(md5('w_' || x), 4, 1)) - 1)
                  - 32768
                  FOR x IN toks]), 0) AS BIGINT) AS margin,
                COALESCE(list_sum([
                    (strpos('0123456789abcdef', substr(md5('w_' || x), 1, 1)) - 1) * 4096
                  + (strpos('0123456789abcdef', substr(md5('w_' || x), 2, 1)) - 1) * 256
                  + (strpos('0123456789abcdef', substr(md5('w_' || x), 3, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(md5('w_' || x), 4, 1)) - 1)
                  - 32768
                  FOR x IN toks]), 0) > 0 AS keep
              FROM t ORDER BY doc_id""")),

    // ---- trained Naive Bayes classifier -----------------------------------
    // A classifier that is actually TRAINED in the engine (the
    // q_quality_classifier row above scores against fixed hash weights):
    // multinomial Naive Bayes over words with add-1 smoothing, fit on the
    // hash-split train set, predicting `lang` for every document —
    // the fastText-style supervised lang-id shape, chosen because NB
    // training IS counting, so the whole fit is two aggregations and the
    // model stays exact: score(doc, l) = ln(d_l/D) + Σ_w tf_w ·
    // ln((c_wl+1)/(n_l+V)). Every term is ln of a ratio of exact
    // integers (the LM-row discipline), rounded 6dp into DECIMAL
    // arithmetic — tf·lp as DECIMAL(12,0)×DECIMAL(24,6), order-
    // independent decimal sums — so the argmax is bit-deterministic
    // cross-engine, ties broken on the lang string. Unseen (w,l) pairs
    // coalesce to c=0 and OOV words fall through the same formula: no
    // dense vocab×lang table is ever materialized. Scale: the scored
    // frame is (doc × DISTINCT word) × L — the per-doc tf aggregation
    // runs BEFORE the ×L broadcast expansion, so the token stream itself
    // never multiplies; the (w,l) count join is vocab-sized → one
    // shuffle join; priors/totals are an L-row broadcast; top-1 per doc
    // is a window over L rows per doc.
    // Honesty note on the measured number: the synthetic corpus draws
    // every document's text from ONE shared vocabulary regardless of
    // `lang`, so the label is independent of the features and accuracy
    // lands at the class prior (~44% at sf0.01) BY CONSTRUCTION of the
    // data, not the model. The oracle row pins the training/scoring
    // arithmetic exactly; MixLmSpec pins that the same [[nbClassify]]
    // kernel reaches 100% held-out accuracy on a planted frame whose
    // labels actually correlate with the text.
    Q("q_nb_classifier",
      (s, d) => nbClassify(docs(s, d).select(col("doc_id"),
        col("lang").as("label"),
        (substring(md5(col("doc_id").cast("string")), 1, 2) >= "1a")
          .as("is_train"),
        split(lower(col("text")), " ").as("toks"))),
      Some(s"""WITH t AS (
                SELECT doc_id, lang,
                  substr(md5(doc_id::VARCHAR), 1, 2) >= '1a' AS is_train,
                  string_split(lower(text), ' ') AS toks
                FROM documents),
              u AS (
                SELECT doc_id, lang, is_train, w FROM (
                  SELECT doc_id, lang, is_train, unnest(toks) AS w FROM t)
                WHERE w <> ''),
              cwl AS (SELECT w, lang AS l, COUNT(*) AS c FROM u
                      WHERE is_train GROUP BY w, lang),
              dl AS (SELECT lang AS l, COUNT(*) AS dl FROM t
                     WHERE is_train GROUP BY lang),
              nl AS (SELECT lang AS l, COUNT(*) AS nl FROM u
                     WHERE is_train GROUP BY lang),
              vv AS (SELECT COUNT(DISTINCT w) AS v FROM u WHERE is_train),
              dt AS (SELECT COUNT(*) AS dtot FROM t WHERE is_train),
              ls AS (SELECT dl.l, dl.dl, nl.nl, vv.v, dt.dtot
                     FROM dl JOIN nl USING (l) CROSS JOIN vv CROSS JOIN dt),
              tf AS (SELECT doc_id, lang, w,
                       CAST(COUNT(*) AS DECIMAL(12,0)) AS tf
                     FROM u GROUP BY doc_id, lang, w),
              sc AS (
                SELECT tf.doc_id, tf.lang, ls.l, ls.dl, ls.dtot,
                  SUM(tf.tf * CAST(${Arith.sqlMicro6(
                    """ln((COALESCE(cwl.c, 0) + 1.0) /
                    (ls.nl + ls.v))""")} AS DECIMAL(24,6))) AS lk
                FROM tf CROSS JOIN ls
                LEFT JOIN cwl ON cwl.w = tf.w AND cwl.l = ls.l
                GROUP BY tf.doc_id, tf.lang, ls.l, ls.dl, ls.dtot),
              fin AS (
                SELECT doc_id, lang, l,
                  CAST(${Arith.sqlMicro6("ln(CAST(dl AS DOUBLE) / dtot)")}
                    AS DECIMAL(38,6)) + lk AS score
                FROM sc),
              rk AS (
                SELECT doc_id, lang, l,
                  ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, l) AS rk
                FROM fin)
              SELECT doc_id, lang AS actual, l AS pred,
                (l = lang) AS correct
              FROM rk WHERE rk = 1 ORDER BY doc_id""")),

    // ---- text normalization / scrubbing ----------------------------------
    // The cheap cleaning pass in front of dedup/training: lowercase, mask
    // digit runs, collapse whitespace, trim. All regexp_replace — codegen'd,
    // per-row, no shuffle before the determinism sort. (Spark replaces all
    // matches by default; DuckDB needs the 'g' flag.)
    Q("q_text_clean",
      (s, d) => docs(s, d)
        .withColumn("clean", trim(regexp_replace(regexp_replace(
          lower(col("text")), "[0-9]+", "<num>"), " +", " ")))
        .select(col("doc_id"),
          length(col("clean")).cast("long").as("clean_len"),
          md5(col("clean")).as("clean_md5"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
              length(trim(regexp_replace(regexp_replace(
                lower(text), '[0-9]+', '<num>', 'g'), ' +', ' ', 'g'))) AS clean_len,
              md5(trim(regexp_replace(regexp_replace(
                lower(text), '[0-9]+', '<num>', 'g'), ' +', ' ', 'g'))) AS clean_md5
              FROM documents ORDER BY doc_id""")),

    // ---- PII scrubbing ----------------------------------------------------
    // Email/URL masking, the compliance pass before training. The corpus
    // has no natural PII, so deterministic address/URL suffixes are
    // APPENDED first — the regexes must then actually fire, and the md5
    // pins Java-regex vs RE2 replacement parity ('g' flag on the DuckDB
    // side: Spark replaces all matches by default).
    Q("q_pii_scrub",
      (s, d) => docs(s, d)
        .withColumn("raw", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or "),
          lit("https://ex.com/u/"), col("doc_id"), lit(" now")))
        .withColumn("scrubbed", regexp_replace(regexp_replace(col("raw"),
          "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+", "<email>"),
          "https?://[^ ]+", "<url>"))
        .select(col("doc_id"),
          (length(col("raw")) - length(col("scrubbed"))).cast("long")
            .as("delta_len"),
          md5(col("scrubbed")).as("scrub_md5"))
        .orderBy("doc_id"),
      Some("""WITH r AS (
                SELECT doc_id,
                  text || ' contact user' || doc_id || '@example.com or ' ||
                  'https://ex.com/u/' || doc_id || ' now' AS raw
                FROM documents),
              sc AS (
                SELECT doc_id, raw,
                  regexp_replace(regexp_replace(raw,
                    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<email>', 'g'),
                    'https?://[^ ]+', '<url>', 'g') AS scrubbed
                FROM r)
              SELECT doc_id,
                CAST(length(raw) - length(scrubbed) AS BIGINT) AS delta_len,
                md5(scrubbed) AS scrub_md5
              FROM sc ORDER BY doc_id""")),

    // ---- document fingerprinting -----------------------------------------
    // Winnowing-style fingerprint: the minimum MD5 over all 5-token
    // shingles. MD5 hex strings compare identically on both engines; the
    // whole computation is per-row (no shuffle before the determinism sort).
    Q("q_fingerprint",
      (s, d) => docs(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 5)
        .withColumn("fp",
          array_min(transform(sequence(lit(0), size(col("toks")) - 5),
            i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(5)))))))
        .select(col("doc_id"), col("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
              list_min([md5(array_to_string(toks[i:i+4], ' '))
                        FOR i IN generate_series(1, len(toks) - 4)]) AS fp
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
              WHERE len(toks) >= 5 ORDER BY doc_id""")),

    // ---- benchmark decontamination ----------------------------------------
    // The eval-set overlap check every training corpus must pass before
    // training: a document sharing ANY 5-token window with a held-out
    // benchmark is flagged (the n-gram-overlap decontamination rule used
    // for public LM benchmarks). The "benchmark" here is the first 5
    // documents — a deterministic stand-in so the definition has an exact
    // oracle; in production it is an external (and always SMALL) suite,
    // which is exactly why the scale shape is a BROADCAST left join of
    // the corpus's window hashes against the eval set: the 100 TB corpus
    // streams map-side, zero shuffles before the per-doc rollup, and the
    // text column never leaves the scan (only 32-char hashes flow).
    Q("q_decontaminate",
      (s, d) => {
        // the eval branch re-scans with doc_id < 5 pushed into the scan —
        // at scale the suite is an external table, not a corpus subset
        val ev = windowHashes(docs(s, d).filter(col("doc_id") < 5), 5)
          .select("wh").distinct().withColumn("hit", lit(1L))
        windowHashes(docs(s, d).filter(col("doc_id") >= 5), 5)
          .join(broadcast(ev), Seq("wh"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            count(col("hit")).as("n_hits"),
            (count(col("hit")) > 0).as("contaminated"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (
                SELECT doc_id,
                  unnest(list_distinct([md5(array_to_string(toks[i:i+4], ' '))
                    FOR i IN generate_series(1, len(toks) - 4)])) AS gh
                FROM (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM documents)
                WHERE len(toks) >= 5),
              ev AS (SELECT DISTINCT gh FROM g WHERE doc_id < 5)
              SELECT g.doc_id, COUNT(*) AS n_grams,
                COUNT(ev.gh) AS n_hits,
                (COUNT(ev.gh) > 0) AS contaminated
              FROM g LEFT JOIN ev ON g.gh = ev.gh
              WHERE g.doc_id >= 5
              GROUP BY g.doc_id ORDER BY doc_id""")),

    // ---- cross-source n-gram overlap matrix -------------------------------
    // The curation diagnostic behind "how much of crawl X is already in
    // corpus Y": for every source pair, the count of shared distinct
    // 5-gram window hashes plus a Jaccard in ppm. Exact content hashes
    // would answer "identical documents" (zero here by construction —
    // q_dedup_exact's territory); the n-gram window is the overlap measure
    // decontamination and mixture design actually use. Scale shape: the
    // per-(source, wh) frame is DISTINCT before the pair join, so the
    // self-join on wh fans out at most (#sources sharing the hash)² rows
    // per hash — sources are a bounded taxonomy (mixture domains, not
    // documents), so the Zipf-head hash costs S² rows, never docs². All
    // shuffles key on wh or the S²-bounded pair frame; text never leaves
    // the scan (only 32-char hashes flow). Jaccard is exact integer
    // arithmetic (DECIMAL div) — no float divergence.
    Q("q_cross_source_overlap",
      (s, d) => {
        val ws = windowHashes(docs(s, d), 5, Seq("source"))
          .select("source", "wh").distinct()
        val sizes = ws.groupBy("source").agg(count(lit(1)).as("n"))
        val a = ws.select(col("wh"), col("source").as("source_a"))
        val b = ws.select(col("wh"), col("source").as("source_b"))
        a.join(b, Seq("wh"))
          .filter(col("source_a") < col("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_shared"))
          .join(sizes.select(col("source").as("source_a"),
            col("n").as("n_a")), Seq("source_a"))
          .join(sizes.select(col("source").as("source_b"),
            col("n").as("n_b")), Seq("source_b"))
          .withColumn("jaccard_ppm", expr(
            "CAST(n_shared AS DECIMAL(38,0)) * 1000000 div (n_a + n_b - n_shared)"))
          .select(col("source_a"), col("source_b"), col("n_shared"),
            col("n_a"), col("n_b"), col("jaccard_ppm"))
          .orderBy("source_a", "source_b")
      },
      Some("""WITH g AS (
                SELECT DISTINCT source, wh FROM (
                  SELECT source,
                    unnest(list_distinct([md5(array_to_string(toks[i:i+4], ' '))
                      FOR i IN generate_series(1, len(toks) - 4)])) AS wh
                  FROM (SELECT source, string_split(text, ' ') AS toks
                        FROM documents)
                  WHERE len(toks) >= 5)),
              sz AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
              p AS (
                SELECT a.source AS source_a, b.source AS source_b,
                  COUNT(*) AS n_shared
                FROM g a JOIN g b ON a.wh = b.wh AND a.source < b.source
                GROUP BY 1, 2)
              SELECT p.source_a, p.source_b, p.n_shared,
                sa.n AS n_a, sb.n AS n_b,
                CAST(p.n_shared::HUGEINT * 1000000
                  // (sa.n + sb.n - p.n_shared) AS BIGINT) AS jaccard_ppm
              FROM p JOIN sz sa ON sa.source = p.source_a
                     JOIN sz sb ON sb.source = p.source_b
              ORDER BY source_a, source_b""")),

    // ---- per-source marginal n-gram novelty --------------------------------
    // The mixture-ingestion ORDER diagnostic q_cross_source_overlap's
    // symmetric matrix can't give: walk the sources in a deterministic
    // priority order (name order — the reproducibility convention every
    // sampling row uses) and credit each distinct 5-gram window hash to the
    // FIRST source that contributes it. A source's novelty_ppm is the share
    // of its own distinct n-grams that are new at its turn — the marginal
    // content a crawl adds to the accumulated corpus, the number that
    // decides whether ingesting it is worth the tokens. Scale shape: the
    // per-(source, wh) frame is DISTINCT before anything else; the claim
    // pass is a partial-aggregated min(source) per wh; the credit join keys
    // on wh — so every shuffle carries 32-char hashes bounded by distinct
    // windows, the Zipf-head hash costs S rows (bounded source taxonomy),
    // and text never leaves the scan. Novelty is exact integer ppm
    // (DECIMAL div) like the overlap row, so no float divergence.
    Q("q_ngram_novelty",
      (s, d) => ngramNovelty(s, d),
      Some("""WITH g AS (
                SELECT DISTINCT source, wh FROM (
                  SELECT source,
                    unnest(list_distinct([md5(array_to_string(toks[i:i+4], ' '))
                      FOR i IN generate_series(1, len(toks) - 4)])) AS wh
                  FROM (SELECT source, string_split(text, ' ') AS toks
                        FROM documents)
                  WHERE len(toks) >= 5)),
              f AS (SELECT wh, MIN(source) AS first_source FROM g GROUP BY wh)
              SELECT g.source, CAST(COUNT(*) AS BIGINT) AS n_grams,
                CAST(COUNT(*) FILTER (WHERE f.first_source = g.source)
                  AS BIGINT) AS n_novel,
                CAST(COUNT(*) FILTER (WHERE f.first_source = g.source)::HUGEINT
                  * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
              FROM g JOIN f ON f.wh = g.wh
              GROUP BY g.source ORDER BY source""")),

    // ---- corpus-level boilerplate n-gram mining -----------------------------
    // The C4/Gopher-style boilerplate DISCOVERY table: the top-20 5-token
    // windows by DOCUMENT frequency, with corpus share in ppm and an
    // example doc — the artifact a curation run reads to decide which
    // license headers / navigation chrome / template sentences to strip
    // (q_substring_dup answers "how duplicated is each doc"; this answers
    // "WHICH spans are the boilerplate"). Scale shape: the corpus-sized
    // aggregation counts per-doc-distinct window HASHES (map-side partial
    // count, 32-char keys, text never shuffles); the top-20 cut is a
    // TakeOrderedAndProject over (df desc, wh) — deterministic, no
    // global sort materialized; gram TEXT is then recovered for the 20
    // winners only, by broadcasting the winner set against a second scan
    // that re-derives (doc_id, gram) — the two-scan trade: carrying gram
    // text through the first aggregation would shuffle the token stream,
    // while scan #2 is a pruned re-read that emits 20 joined groups.
    // Share is exact integer ppm over the eligible universe (docs with
    // ≥ 5 tokens), the DECIMAL-div discipline of the overlap rows.
    Q("q_boilerplate_ngrams",
      (s, d) => {
        val n = 5
        val top = windowHashes(docs(s, d), n)
          .groupBy("wh").agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("wh"))
          .limit(20)
        val eligible = windowHashes(docs(s, d), n)
          .select("doc_id").distinct()
          .agg(count(lit(1)).as("n_docs"))
        windowGrams(docs(s, d), n)
          .withColumn("wh", md5(col("gram")))
          .join(broadcast(top), "wh")
          .groupBy("wh", "df")
          .agg(min(col("gram")).as("gram"),
            min(col("doc_id")).as("example_doc"))
          .crossJoin(broadcast(eligible))
          .withColumn("df_ppm",
            expr("CAST(df AS DECIMAL(38,0)) * 1000000 div n_docs"))
          .select(col("gram"), col("df"), col("df_ppm"), col("example_doc"))
          .orderBy(col("df").desc, col("gram"))
      },
      Some("""WITH g AS (
                SELECT DISTINCT doc_id, gram FROM (
                  SELECT doc_id,
                    unnest(list_distinct([array_to_string(toks[i:i+4], ' ')
                      FOR i IN generate_series(1, len(toks) - 4)])) AS gram
                  FROM (SELECT doc_id, string_split(text, ' ') AS toks
                        FROM documents)
                  WHERE len(toks) >= 5)),
              top AS (
                SELECT md5(gram) AS wh, gram, COUNT(*) AS df,
                  MIN(doc_id) AS example_doc
                FROM g GROUP BY 1, 2
                ORDER BY df DESC, wh LIMIT 20),
              tot AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM g)
              SELECT top.gram, top.df,
                CAST(top.df::HUGEINT * 1000000 // tot.n_docs AS BIGINT)
                  AS df_ppm,
                top.example_doc
              FROM top, tot ORDER BY df DESC, gram""")),

    // ---- intra-document repetition ----------------------------------------
    // The Gopher-style repetition filter: a document whose 3-grams repeat
    // heavily (1 − distinct/total above threshold) is loops/boilerplate,
    // not prose. Entirely per-row codegen'd array ops — no shuffle at all
    // before the determinism sort, so it composes into the q_pipeline
    // funnel for free at any corpus size.
    Q("q_repetition",
      (s, d) => docs(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 3)
        .withColumn("n3", (size(col("toks")) - 2).cast("long"))
        .withColumn("grams",
          transform(sequence(lit(0), size(col("toks")) - 3),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(3)))))
        .withColumn("n3_distinct",
          size(array_distinct(col("grams"))).cast("long"))
        .withColumn("rep_fraction", Arith.micro6(lit(1.0) -
          col("n3_distinct").cast("double") / col("n3")))
        .withColumn("repetitive", col("rep_fraction") > 0.2)
        .select(col("doc_id"), col("n3"), col("n3_distinct"),
          col("rep_fraction"), col("repetitive"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (
                SELECT doc_id, string_split(text, ' ') AS toks
                FROM documents),
              f AS (
                SELECT doc_id, CAST(len(toks) - 2 AS BIGINT) AS n3,
                  CAST(len(list_distinct([array_to_string(toks[i:i+2], ' ')
                    FOR i IN generate_series(1, len(toks) - 2)])) AS BIGINT)
                    AS n3_distinct
                FROM t WHERE len(toks) >= 3)
              SELECT doc_id, n3, n3_distinct,
                ${Arith.sqlMicro6(
                  "1.0 - n3_distinct::DOUBLE / n3")} AS rep_fraction,
                (${Arith.sqlMicro6(
                  "1.0 - n3_distinct::DOUBLE / n3")} > 0.2)
                  AS repetitive
              FROM f ORDER BY doc_id""")),

    // ---- the Gopher rule battery ------------------------------------------
    // The published heuristic filter set (Rae et al. 2021, A1.1) as ONE
    // pass with per-rule flags — unlike q_quality's composite SCORE, the
    // per-rule booleans are what a curation run audits ("which rule is
    // dropping 40% of crawl X"). Rules kept: word count ∈ [50, 100k],
    // mean word length ∈ [3, 10], symbol-to-word ratio (# and …) ≤ 0.1,
    // ≥80% of words contain an alphabetic character, and ≥2 distinct
    // required stop words present — Gopher's ≥2-distinct semantics over
    // the engine's [[stopWords]] set (the published eight are English
    // prose words this synthetic vocabulary mostly lacks; the rule would
    // be constant-false). The line-shape rules (bullet/ellipsis line
    // fractions) are omitted: this corpus is single-line by
    // construction, so they would be constant-pass noise.
    // Everything is per-row codegen'd array arithmetic — no shuffle before
    // the determinism sort. The alphabetic test is lower(t) <> upper(t)
    // (set membership via case-folding, identical in both engines on this
    // ASCII corpus) instead of a per-token regex — the regex-per-token
    // cost on the hot text path is the r6 lesson stopWords already
    // documents. Ratios go through the micro6 floor so the flag
    // thresholds compare identical doubles on both engines.
    Q("q_gopher_rules",
      (s, d) => docs(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_words", size(col("toks")).cast("long"))
        .withColumn("mean_word_len",
          Arith.micro6((col("n_chars") - col("n_words") + 1).cast("double") /
            col("n_words")))
        .withColumn("n_symbols",
          (length(col("text")) - length(regexp_replace(col("text"),
            "[#…]", ""))).cast("long"))
        .withColumn("symbol_ratio",
          Arith.micro6(col("n_symbols").cast("double") / col("n_words")))
        .withColumn("alpha_ratio", Arith.micro6(
          size(filter(col("toks"), t => lower(t) =!= upper(t)))
            .cast("double") / col("n_words")))
        .withColumn("n_stop_distinct",
          size(array_intersect(transform(col("toks"), t => lower(t)),
            typedLit(stopWords))).cast("long"))
        .withColumn("r_wordcount", col("n_words").between(50L, 100000L))
        .withColumn("r_meanlen",
          col("mean_word_len").between(3.0, 10.0))
        .withColumn("r_symbol", col("symbol_ratio") <= 0.1)
        .withColumn("r_alpha", col("alpha_ratio") >= 0.8)
        .withColumn("r_stop", col("n_stop_distinct") >= 2L)
        .withColumn("keep", col("r_wordcount") && col("r_meanlen") &&
          col("r_symbol") && col("r_alpha") && col("r_stop"))
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("symbol_ratio"), col("alpha_ratio"), col("n_stop_distinct"),
          col("r_wordcount"), col("r_meanlen"), col("r_symbol"),
          col("r_alpha"), col("r_stop"), col("keep"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (
                SELECT doc_id, n_chars, string_split(text, ' ') AS toks,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                  CAST(length(text) - length(regexp_replace(text,
                    '[#…]', '', 'g')) AS BIGINT) AS n_symbols
                FROM documents),
              f AS (
                SELECT doc_id, n_words, n_symbols,
                  ${Arith.sqlMicro6(
                    "(n_chars - n_words + 1)::DOUBLE / n_words")}
                    AS mean_word_len,
                  ${Arith.sqlMicro6("n_symbols::DOUBLE / n_words")}
                    AS symbol_ratio,
                  ${Arith.sqlMicro6(
                    """len([x FOR x IN toks IF lower(x) <> upper(x)])::DOUBLE
                        / n_words""")} AS alpha_ratio,
                  CAST(len(list_intersect([lower(x) FOR x IN toks],
                    [${stopWords.map(w => s"'$w'").mkString(", ")}]))
                    AS BIGINT) AS n_stop_distinct
                FROM t)
              SELECT doc_id, n_words, mean_word_len, symbol_ratio,
                alpha_ratio, n_stop_distinct,
                (n_words BETWEEN 50 AND 100000) AS r_wordcount,
                (mean_word_len BETWEEN 3.0 AND 10.0) AS r_meanlen,
                (symbol_ratio <= 0.1) AS r_symbol,
                (alpha_ratio >= 0.8) AS r_alpha,
                (n_stop_distinct >= 2) AS r_stop,
                ((n_words BETWEEN 50 AND 100000)
                  AND (mean_word_len BETWEEN 3.0 AND 10.0)
                  AND (symbol_ratio <= 0.1) AND (alpha_ratio >= 0.8)
                  AND (n_stop_distinct >= 2)) AS keep
              FROM f ORDER BY doc_id""")),

    // ---- deterministic hash sampling -------------------------------------
    // The sampling a training-data pipeline actually ships: hash-bucketed,
    // not RNG'd — the sample is REPRODUCIBLE (same rows on every run, any
    // cluster size, any partitioning), membership is decidable per row
    // with no coordination, and downstream joins against the sample stay
    // consistent. Spark's rand(seed)/TABLESAMPLE give none of those (seed
    // ⇒ partition-order dependent, engine-specific). Rate = hex-prefix
    // range: first 2 MD5 chars < '1a' ⇒ 26/256 ≈ 10.2%.
    Q("q_sample_hash",
      (s, d) => docs(s, d)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < "1a")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, n_chars FROM documents
              WHERE substr(md5(doc_id::VARCHAR), 1, 2) < '1a'
              ORDER BY doc_id""")),

    // ---- stratified sampling ---------------------------------------------
    // Per-stratum rates over the same hash discipline as q_sample_hash:
    // downsample the dominant language to ~10% and keep the tail languages
    // at 50% — the data-balancing move every multilingual training mix
    // needs. Still a single codegen'd scan-and-filter (the rate is a CASE
    // over the stratum column, not a per-stratum job), and still stable
    // under corpus growth: a document's keep/drop never changes when other
    // documents are added.
    Q("q_sample_stratified",
      (s, d) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 4)
        docs(s, d)
          .filter(when(col("lang") === "en", h < "1999").otherwise(h < "8000"))
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
              WHERE CASE WHEN lang = 'en'
                    THEN substr(md5(doc_id::VARCHAR), 1, 4) < '1999'
                    ELSE substr(md5(doc_id::VARCHAR), 1, 4) < '8000' END
              ORDER BY doc_id""")),

    // ---- token-budget mixture sampling ------------------------------------
    // The data-mixing primitive: each source contributes documents up to a
    // fixed TOKEN budget (n_chars as the stand-in, per q_seq_pack), taken
    // in a deterministic hash-priority order — the reproducible version of
    // "sample X tokens from each source" that a training-mix spec needs.
    // A document is kept iff the running total BEFORE it is under budget,
    // so every source takes the first document that crosses the line
    // (budgets fill, never undershoot by a whole document). One shuffle on
    // `source`, one ordered pass; the hash order (not doc_id order) keeps
    // the sample unbiased w.r.t. crawl order while staying stable under
    // corpus growth of OTHER sources.
    Q("q_sample_budget",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        docs(s, d)
          .withColumn("prior",
            sum(col("n_chars")).over(w) - col("n_chars"))
          .withColumn("keep", col("prior") < 50000L)
          .groupBy("source")
          .agg(count(lit(1)).as("n_total"),
            count_if(col("keep")).as("n_kept"),
            sum(when(col("keep"), col("n_chars")).otherwise(0L))
              .cast("long").as("chars_kept"))
          .orderBy("source")
      },
      Some(sqlSampleBudgetOracle)),

    // ---- token-budget mixture sampling, scale arm ---------------------------
    // The same budget fill with the per-source window replaced by
    // PrefixSum.md5BudgetPrior: rows shard on the first two md5 hex
    // chars (an order PREFIX of the priority key, 256 uniform shards),
    // shard offsets come from a bounded histogram self-join, and the
    // prefix window runs per (source, shard) — so a 20 TB source sorts
    // in ~1/256 slices instead of one task. Exactly the window arm's
    // priors by construction; same oracle. This sharded prior is also
    // what the corpus pipeline's stage 5 (batch and streaming) runs.
    Q("q_sample_budget_shard",
      (s, d) => graft.plans.PrefixSum
        .md5BudgetPrior(docs(s, d), col("n_chars"))
        .withColumn("keep", col("prior") < 50000L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          count_if(col("keep")).as("n_kept"),
          sum(when(col("keep"), col("n_chars")).otherwise(0L))
            .cast("long").as("chars_kept"))
        .orderBy("source"),
      Some(sqlSampleBudgetOracle)),

    // ---- balanced output sharding + manifest ------------------------------
    // The corpus-export step: every document is assigned a deterministic
    // shard (first md5 hex digit of a salted id hash ⇒ 16 uniform shards,
    // the same no-RNG reproducibility contract as q_sample_hash — a doc's
    // shard never changes when the corpus grows), and the row emits the
    // write MANIFEST a downstream loader consumes: per-shard doc count,
    // byte volume, and id range. The physical write is
    // `.write.partitionBy("shard")` over exactly this column (the
    // mechanics q_partitioned_roundtrip already exercises); at 100 TB
    // the shard count is a config constant sized to target file sizes,
    // and the manifest agg is one map-side-combined shuffle of 16
    // partial rows per task — nothing scales with the corpus but the
    // scan. Uniformity is pinned by the spec (max/min shard occupancy).
    Q("q_shard_manifest",
      (s, d) => docs(s, d)
        .select(col("doc_id"), col("n_chars"),
          conv(substring(md5(concat(lit("s_"), col("doc_id"))), 1, 1),
            16, 10).cast("long").as("shard"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_total"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy("shard"),
      Some("""SELECT
                CAST(strpos('0123456789abcdef',
                  substr(md5('s_' || doc_id::VARCHAR), 1, 1)) - 1
                  AS BIGINT) AS shard,
                COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
                MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
              FROM documents GROUP BY 1 ORDER BY shard""")),

    // ---- sequence packing ------------------------------------------------
    // Training-batch assembly: documents are concatenated in a stable
    // order within each source and cut into fixed-budget packs (here 4096
    // chars as the token-budget stand-in): pack_id = the running total
    // BEFORE the document, integer-divided by the budget. One shuffle on
    // `source`, one ordered pass — the reference arm; q_seq_pack_shard
    // below is the (source, shard) widened plan for 100 TB.
    Q("q_seq_pack",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        docs(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"),
            floor((sum(col("n_chars")).over(w) - col("n_chars")) / 4096)
              .as("pack_id"))
          .orderBy("source", "doc_id")
      },
      Some(sqlSeqPackOracle)),

    // ---- sequence packing, scale arm ---------------------------------------
    // The widened-window plan the reference arm's scaladoc promised: the
    // pack order is doc_id, so the order-prefix shard is a RANGE bucket —
    // 256 uniform doc_id slices from one min/max aggregate (integer DIV,
    // monotone in doc_id) — and PrefixSum turns the per-source one-task
    // prefix sum into per-(source, shard) windows plus broadcast shard
    // offsets. pack_id is then the same running-total division; exactly
    // the window arm's packs, same oracle, no task ever sorting more
    // than a source-slice.
    Q("q_seq_pack_shard",
      (s, d) => {
        val mm = docs(s, d)
          .agg(min("doc_id").as("__ps_lo"), max("doc_id").as("__ps_hi"))
        graft.plans.PrefixSum.shardedPrior(
          docs(s, d).crossJoin(broadcast(mm)), Seq("source"),
          expr("(doc_id - __ps_lo) * 256 DIV (__ps_hi - __ps_lo + 1)"),
          Seq(col("doc_id")), col("n_chars"))
          .select(col("doc_id"), col("source"), col("n_chars"),
            floor(col("prior") / 4096).as("pack_id"))
          .orderBy("source", "doc_id")
      },
      Some(sqlSeqPackOracle)),

    // ---- train/val/test split --------------------------------------------
    // Same hash discipline as q_sample_hash, partitioning the corpus into
    // held-out splits: ~5% test, ~5% val, 90% train, stable under corpus
    // growth (a document's split never changes when other documents are
    // added — a modulo over a row number would reshuffle everything).
    Q("q_sample_split",
      (s, d) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 2)
        docs(s, d)
          .withColumn("split",
            when(h < "0d", "test").when(h < "1a", "val").otherwise("train"))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("total_chars"))
          .orderBy("split", "lang")
      },
      Some("""SELECT split, lang, COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS total_chars
              FROM (
                SELECT lang, n_chars,
                  CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < '0d' THEN 'test'
                       WHEN substr(md5(doc_id::VARCHAR), 1, 2) < '1a' THEN 'val'
                       ELSE 'train' END AS split
                FROM documents)
              GROUP BY split, lang ORDER BY split, lang""")),

    // ---- temperature-scaled mixture sampling ------------------------------
    // The multilingual rebalancing rule (the exponent-sampling move of
    // mBERT / XLM-R): sample language i with probability ∝ n_i^α, α=½ —
    // upsampling tail languages relative to their raw share. Per-doc keep
    // probability p_i = B·√n_i / (Σ_j √n_j · n_i) with B the global doc
    // budget (200, a config constant); the expected sample size is B and
    // the expected per-language share is √n_i-proportional. α is ½ BY
    // CHOICE of numeric discipline, not modeling: IEEE 754 requires sqrt
    // to be correctly rounded, so √n is the SAME double in every engine —
    // unlike pow(n, 0.7), which is libm-dependent. √n_i is then pinned to
    // micro-units with floor (exact on identical doubles; NOT round(x,6),
    // the documented cross-engine half-mode trap), the normalizer is an
    // EXACT long sum of those micro-units, and the keep rate is a ratio
    // of exact integers evaluated in two IEEE ops — so the per-row draw
    // u < p (u = the md5 dyadic of q_sample_hash) is bit-deterministic.
    // Plan: one tiny lang-count agg (#langs rows) broadcast back, a 1-row
    // broadcast normalizer, then a codegen'd scan-wide predicate — zero
    // data shuffles. Unlike the hash samplers a document's keep CAN flip
    // when counts shift: that is inherent to any mixture TARGET (rates
    // depend on the mix); pin rates from a frozen census at 100 TB for
    // run-over-run stability.
    // ---- domain-mixture token budgeting -----------------------------------
    // The training-mixture TABLE (the per-domain allocation every LLM run
    // pins before launch — XLM-R/LLaMA-style α-weighted shares): per
    // (source, lang) domain, its token mass, its α=½ temperature weight
    // in ppm, its allocation out of a 10M-token budget (config constant),
    // and the implied epochs over the domain's own data in micro-units
    // (alloc/size > 1 ⇒ the domain repeats; the oversampling signal). The
    // numeric discipline is q_sample_temperature's sqrt-micro-floor recipe
    // (correctly-rounded IEEE sqrt, exact long sums, integer `div` ratios
    // promoted through DECIMAL(38,0) so the 10¹³-token corpus can't
    // overflow the products). Plan: the corpus collapses to one
    // #domains-row aggregate at the scan (map-side partials over
    // (source, lang)); everything after is arithmetic on that tiny frame
    // against a 1-row broadcast normalizer — zero data shuffles.
    Q("q_domain_mix",
      (s, d) => {
        val dom = docs(s, d)
          .select(col("source"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("tk"))
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("tk")).as("n_tokens"))
          .withColumn("s_micro",
            floor(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long"))
        val z = dom.agg(sum(col("s_micro")).as("z_micro"))
        dom.crossJoin(broadcast(z))
          .withColumn("weight_ppm", expr(
            "(CAST(s_micro AS DECIMAL(38,0)) * 1000000) div z_micro"))
          .withColumn("alloc_tokens", expr(
            "(CAST(s_micro AS DECIMAL(38,0)) * 10000000) div z_micro"))
          .withColumn("epochs_micro", expr(
            "(CAST(alloc_tokens AS DECIMAL(38,0)) * 1000000) div n_tokens"))
          .select(col("source"), col("lang"), col("n_docs"),
            col("n_tokens"), col("weight_ppm"), col("alloc_tokens"),
            col("epochs_micro"))
          .orderBy("source", "lang")
      },
      Some("""WITH dom AS (
                SELECT source, lang, COUNT(*) AS n_docs,
                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                    AS n_tokens
                FROM documents GROUP BY source, lang),
              sm AS (
                SELECT *, CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE))
                  * 1000000.0) AS BIGINT) AS s_micro
                FROM dom),
              z AS (SELECT CAST(SUM(s_micro) AS BIGINT) AS z_micro FROM sm)
              SELECT source, lang, n_docs, n_tokens,
                CAST((s_micro::HUGEINT * 1000000) // z_micro AS BIGINT)
                  AS weight_ppm,
                CAST((s_micro::HUGEINT * 10000000) // z_micro AS BIGINT)
                  AS alloc_tokens,
                CAST(((s_micro::HUGEINT * 10000000) // z_micro * 1000000)
                  // n_tokens AS BIGINT) AS epochs_micro
              FROM sm, z
              ORDER BY source, lang""")),

    // ---- domain-mixture OPTIMIZATION (multiplicative weights) -------------
    // q_domain_mix pins a STATIC α-temperature mixture; this row SOLVES
    // for one — the DoReMi-family shape (domain reweighting driven by a
    // per-domain excess-signal, Xie et al. 2023) with the linearized
    // multiplicative-weights update w′ ∝ w·(1 + η·excess) instead of
    // exp(η·excess): exp is transcendental and engines disagree at 1 ulp,
    // while the linearized update stays in exact long/IEEE-deterministic
    // arithmetic end to end (the pagerank fixed-point discipline). The
    // excess signal is the oracle-verified q_quality composite per
    // domain, centered on the corpus mean; mwRounds rounds of
    // reweight-then-renormalize in ppm. All integer ratios are
    // FLOOR(exact-double division) — operands stay < 2^53 so both
    // engines divide the same exact values and round identically.
    // Plan: ONE corpus scan collapses to a #sources-row integer
    // aggregate (map-side partials — source is a bounded taxonomy);
    // every round after is arithmetic on that tiny localCheckpointed
    // frame against a 1-row broadcast normalizer. Scan-bound at any SF.
    Q("q_mixture_weights",
      (s, d) => mixtureWeights(s, d),
      Some(sqlMixtureWeightsOracle)),

    Q("q_sample_temperature",
      (s, d) => {
        val counts = docs(s, d).groupBy("lang")
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("s_micro",
            floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
        val z = counts.agg(sum(col("s_micro")).as("z_micro"))
        docs(s, d).select(col("doc_id"), col("lang"))
          .join(broadcast(counts), "lang")
          .crossJoin(broadcast(z))
          .withColumn("u",
            conv(substring(md5(concat(lit("t_"), col("doc_id"))), 1, 8),
              16, 10).cast("double") / 4294967296.0)
          .filter(col("u") < (lit(200L) * col("s_micro")).cast("double") /
            (col("z_micro").cast("double") * col("n_docs")))
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      Some(s"""WITH c AS (
                SELECT lang, COUNT(*) AS n_docs,
                  CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000.0)
                       AS BIGINT) AS s_micro
                FROM documents GROUP BY lang),
              z AS (SELECT CAST(SUM(s_micro) AS BIGINT) AS z_micro FROM c),
              u AS (
                SELECT doc_id, lang,
                  (${(0 until 8).map(k =>
                    s"(strpos('0123456789abcdef', substr(md5('t_' || doc_id), ${k + 1}, 1)) - 1) * ${math.pow(16, 7 - k).toLong}.0")
                    .mkString(" + ")}) / 4294967296.0 AS u
                FROM documents)
              SELECT doc_id, lang FROM u JOIN c USING (lang) CROSS JOIN z
              WHERE u.u < CAST(200 * s_micro AS DOUBLE) /
                          (CAST(z_micro AS DOUBLE) * n_docs)
              ORDER BY doc_id""")),

    // ---- bigram vocabulary (LM preprocessing) -----------------------------
    // Top-50 adjacent-token bigrams with counts. Bigrams form WITHOUT an
    // explode-then-self-join on position: zip the token array against its
    // own tail (slice + arrays_zip — codegen'd, per-row), THEN explode
    // once; the only shuffle is the partial-aggregated count. The oracle
    // forms the same pairs via a positional self-join, so the compare pins
    // the zip formulation against the textbook definition. Ties at rank
    // 50 are broken by the bigram text, making the cut deterministic.
    Q("q_vocab_bigrams",
      (s, d) => docs(s, d)
        .select(split(lower(col("text")), " ").as("toks"))
        .select(explode(arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1).as("w1"),
          slice(col("toks"), lit(2), size(col("toks")) - 1).as("w2")))
          .as("pair"))
        .filter(col("pair.w1") =!= "" && col("pair.w2") =!= "")
        .select(concat_ws(" ", col("pair.w1"), col("pair.w2")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(50),
      Some("""WITH t AS (
                SELECT doc_id, string_split(lower(text), ' ') AS toks
                FROM documents),
              u AS (
                SELECT doc_id, unnest(toks) AS w,
                  generate_subscripts(toks, 1) AS i
                FROM t)
              SELECT a.w || ' ' || b.w AS bigram, COUNT(*) AS cnt
              FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.i = a.i + 1
              WHERE a.w <> '' AND b.w <> ''
              GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 50""")),

    // ---- end-to-end training-data pipeline (the composed funnel) ----------
    // The full pre-training preparation chain as ONE declarative plan:
    // normalize (q_text_clean's transform) → language-ID gate (q_lang_id's
    // heuristic) → quality gate (q_quality's composite) → exact dedup on
    // the NORMALIZED text (min-doc_id winner per md5) → per-source funnel
    // counts + surviving token volume. What a user of the engine actually
    // runs nightly; every stage reuses the per-stage operators' exact
    // definitions, so the stage queries remain the unit tests of this one.
    //
    // Scale shape: ONE scan of the text (pinned in PlanSpec — a
    // funnel-branch/survivor-branch formulation would read the 100 TB
    // text column twice); all flags are per-row codegen'd expressions;
    // the dedup winner is a conditional-min window over md5(clean) — one
    // shuffle of narrow rows (hash key + flags + token count, the text
    // itself never shuffles); the per-source rollup partial-aggregates
    // map-side. No joins, no collects.
    Q("q_pipeline",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = docs(s, d)
          .withColumn("clean", trim(regexp_replace(regexp_replace(
            lower(col("text")), "[0-9]+", "<num>"), " +", " ")))
          .withColumn("toks", split(col("clean"), " "))
          .withColumn("n_tokens", size(col("toks")).cast("long"))
          .withColumn("stop_ratio",
            Arith.micro6(nStop(col("toks")).cast("double") / col("n_tokens")))
          .withColumn("lang_ok", col("stop_ratio") >= 0.08)
          .withColumn("mean_word_len",
            Arith.micro6((length(col("clean")) - col("n_tokens") + 1)
              .cast("double") / col("n_tokens")))
          .withColumn("quality",
            Arith.micro6(least(col("n_tokens").cast("double") / 100, lit(1.0))
              * 0.5
              + when(col("mean_word_len").between(3.0, 10.0), 0.3)
                .otherwise(0.0)
              + when(col("stop_ratio") > 0.02, 0.2).otherwise(0.0)))
          .withColumn("surv", col("lang_ok") && (col("quality") >= 0.5))
        // conditional min over ALL rows of the hash group: non-survivors
        // contribute NULL, so the winner is the min doc_id among
        // SURVIVORS — same result as windowing a filtered subset, without
        // forking the scan
        base
          .withColumn("keep_id",
            min(when(col("surv"), col("doc_id")))
              .over(Window.partitionBy(md5(col("clean")))))
          .withColumn("uniq", col("surv") && col("doc_id") === col("keep_id"))
          .groupBy("source").agg(
            count(lit(1)).as("n_raw"),
            count_if(col("lang_ok")).as("n_lang"),
            count_if(col("surv")).as("n_qual"),
            count_if(col("uniq")).as("n_unique"),
            sum(when(col("uniq"), col("n_tokens")).otherwise(0L))
              .as("n_tokens_kept"))
          .orderBy("source")
      },
      Some(s"""WITH base AS (
                SELECT doc_id, source,
                  trim(regexp_replace(regexp_replace(lower(text),
                    '[0-9]+', '<num>', 'g'), ' +', ' ', 'g')) AS clean
                FROM documents),
              f AS (
                SELECT doc_id, source, clean,
                  len(string_split(clean, ' ')) AS n_tokens,
                  ${Arith.sqlMicro6(
                    """len([t FOR t IN string_split(clean, ' ')
                             IF regexp_matches(t, '^(a|the|of|and|to|in)$')])::DOUBLE
                        / len(string_split(clean, ' '))""")} AS stop_ratio,
                  ${Arith.sqlMicro6(
                    """(len(clean) - len(string_split(clean, ' ')) + 1)::DOUBLE
                        / len(string_split(clean, ' '))""")} AS mean_word_len
                FROM base),
              g AS (
                SELECT doc_id, source, clean, n_tokens,
                  (stop_ratio >= 0.08) AS lang_ok,
                  (stop_ratio >= 0.08 AND
                   ${Arith.sqlMicro6(
                     """least(n_tokens::DOUBLE / 100, 1.0) * 0.5 +
                    CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0
                         THEN 0.3 ELSE 0.0 END +
                    CASE WHEN stop_ratio > 0.02 THEN 0.2 ELSE 0.0 END""")}
                   >= 0.5) AS surv
                FROM f),
              s AS (
                SELECT doc_id, source, n_tokens, lang_ok, surv,
                  (surv AND doc_id =
                    MIN(CASE WHEN surv THEN doc_id END)
                      OVER (PARTITION BY md5(clean))) AS uniq
                FROM g)
              SELECT source, COUNT(*) AS n_raw,
                COUNT(*) FILTER (lang_ok) AS n_lang,
                COUNT(*) FILTER (surv) AS n_qual,
                COUNT(*) FILTER (uniq) AS n_unique,
                CAST(SUM(CASE WHEN uniq THEN n_tokens ELSE 0 END)
                     AS BIGINT) AS n_tokens_kept
              FROM s GROUP BY source ORDER BY source""")),

    // ---- context-window chunking ------------------------------------------
    // Overlapping sliding-window chunking into fixed token windows — the
    // step that turns cleaned documents into training context windows
    // (window 32, stride 24 ⇒ 8-token overlap so no boundary context is
    // lost). Chunk COUNT is closed-form integer arithmetic
    // (1 + ⌈max(n−w,0)/stride⌉ via truncating division on non-negatives),
    // so the explode is a per-row `sequence` — one scan, no shuffle
    // before the determinism sort, and the blob-free frame (`doc_id`,
    // offsets, md5) is what downstream shuffles carry; the md5 of each
    // chunk's joined text pins the slicing byte-exactly cross-engine.
    Q("q_text_chunk",
      (s, d) => chunkTokens(
        docs(s, d).select(col("doc_id"), col("text")), 32, 24)
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH t AS (
                SELECT doc_id,
                  [x FOR x IN string_split(lower(text), ' ') IF x <> '']
                    AS toks
                FROM documents),
              n AS (
                SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
                FROM t WHERE len(toks) > 0),
              c AS (
                SELECT doc_id, toks, n,
                  1 + (GREATEST(n - 32, 0) + 23) // 24 AS m
                FROM n)
              SELECT doc_id, i AS chunk_id, i * 24 AS start,
                LEAST(32, n - i * 24) AS chunk_len,
                md5(array_to_string(list_slice(toks, i * 24 + 1,
                  i * 24 + LEAST(32, n - i * 24)), ' ')) AS chunk_md5
              FROM c, LATERAL unnest(generate_series(0, m - 1)) AS u(i)
              ORDER BY doc_id, chunk_id""")),

    // ---- character-entropy gibberish signal -------------------------------
    // Per-document Shannon character entropy in nats — the model-free
    // gibberish/boilerplate detector next to the heuristic gates
    // (q_quality) and the statistical ones (q_unigram_logprob): random
    // byte soup scores high, single-char runs score 0, natural English
    // sits in a narrow band. H = ln(n) − (Σ c·ln c)/n over per-(doc,char)
    // counts needs only ln of SMALL INTEGERS (ulp-identical cross-engine,
    // same as the LM rows); each c·ln c term rounds to 6dp and sums as
    // DECIMAL(38,6) — the Arith discipline — so the per-doc sum is
    // shuffle-order-independent. Scale: explode to (doc, char) pairs,
    // two partial-aggregated groupBys; distinct-char state per doc is
    // bounded by the alphabet (~100), never the text.
    Q("q_char_entropy",
      (s, d) => charEntropy(docs(s, d).select(col("doc_id"), col("text")))
        .orderBy("doc_id"),
      Some(s"""WITH ch AS (
                SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS ch
                FROM documents,
                  LATERAL unnest(generate_series(1, length(text))) AS r(i)),
              cc AS (
                SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch)
              SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
                COUNT(*) AS n_distinct,
                ${Arith.sqlMicro6(
                  s"""ln(CAST(SUM(c) AS DOUBLE)) -
                  CAST(SUM(CAST(${Arith.sqlMicro6(
                    "CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))")}
                    AS DECIMAL(38,6))) AS DOUBLE) / CAST(SUM(c) AS BIGINT)""")}
                  + 0.0 AS entropy
              FROM cc GROUP BY doc_id ORDER BY doc_id""")),

    // ---- inverted index ---------------------------------------------------
    // The retrieval-side primitive over the corpus: term → postings
    // (sorted (doc_id, position) pairs), with document frequency and
    // collection frequency. ONE shuffle on term with partial aggregation
    // for the counts; the postings list itself is order-canonicalized
    // (sort_array over (doc_id, i) structs) and emitted as an md5 so the
    // output row stays small however long the list grows — the driver's
    // hash compare then pins the EXACT postings byte string cross-engine.
    // Positions are the 1-based ORIGINAL token subscripts (empty tokens
    // filtered after numbering, same as the DuckDB zip-unnest), so
    // adjacency queries over the index see the true text layout.
    // Scale: at 100 TB a head term's postings list outgrows one row —
    // the deployment shape shards the index key to (term, doc_id range)
    // so each posting shard is bounded, and the phrase join below works
    // unchanged because it joins on (term-filtered) doc_id, never on the
    // assembled list. collect_list here is per-TERM state, bounded by the
    // synthetic vocab (~31 terms), not corpus size.
    Q("q_inverted_index",
      (s, d) => {
        val toks = docs(s, d)
          .select(col("doc_id"),
            posexplode(split(lower(col("text")), " ")).as(Seq("p0", "term")))
          .filter(col("term") =!= "")
          .select(col("doc_id"), (col("p0") + 1).cast("long").as("i"),
            col("term"))
        toks.groupBy("term")
          .agg(countDistinct(col("doc_id")).as("df"),
            count(lit(1)).as("cf"),
            md5(array_join(transform(
              sort_array(collect_list(struct(col("doc_id"), col("i")))),
              x => concat(x("doc_id").cast("string"), lit(":"),
                x("i").cast("string"))), ",")).as("postings_md5"),
            min(col("doc_id")).as("first_doc"))
          .orderBy("term")
      },
      Some(invertedIndexOracleSql)),

    // ---- sharded inverted index (the Zipf-head scale arm) ------------------
    // The unsharded build holds a head term's FULL postings in one
    // aggregation buffer — fine until a stop-ish term's list outgrows a
    // task. This is the documented fix, demonstrated: postings first
    // build per (term, doc_id-range shard) — per-buffer state bounded by
    // the shard width, shard key contiguous in doc order — then one
    // second-level merge per term concatenates the shard strings in
    // shard order. Because shards partition the doc space contiguously,
    // the concatenation IS the globally doc-ordered postings string and
    // df/cf are plain sums (a doc lives in exactly one shard) — so the
    // output is byte-identical to q_inverted_index and shares its
    // oracle: the sharded arm is PROVEN equivalent by the same hash
    // compare, the q_knn_join_scaledk pattern applied to indexing.
    Q("q_inverted_index_shard",
      (s, d) => {
        val toks = docs(s, d)
          .select(col("doc_id"),
            posexplode(split(lower(col("text")), " ")).as(Seq("p0", "term")))
          .filter(col("term") =!= "")
          .select(col("doc_id"), (col("p0") + 1).cast("long").as("i"),
            col("term"))
        val shards = toks
          .withColumn("shard", expr("doc_id div 128"))
          .groupBy("term", "shard")
          .agg(countDistinct(col("doc_id")).as("df_s"),
            count(lit(1)).as("cf_s"),
            array_join(transform(
              sort_array(collect_list(struct(col("doc_id"), col("i")))),
              x => concat(x("doc_id").cast("string"), lit(":"),
                x("i").cast("string"))), ",").as("ps"),
            min(col("doc_id")).as("fd_s"))
        shards.groupBy("term")
          .agg(sum(col("df_s")).as("df"), sum(col("cf_s")).as("cf"),
            md5(array_join(transform(
              sort_array(collect_list(struct(col("shard"), col("ps")))),
              x => x("ps")), ",")).as("postings_md5"),
            min(col("fd_s")).as("first_doc"))
          .orderBy("term")
      },
      Some(invertedIndexOracleSql)),

    // ---- positional phrase search -----------------------------------------
    // Exact-phrase retrieval ("customer join") as the postings join it is
    // at scale: filter each side of the phrase to its term's postings
    // (term predicates push into the scan; against a materialized index
    // they prune to two postings shards), then equi-join on
    // (doc_id, i+1) = (doc_id, i) adjacency — Catalyst extracts the
    // arithmetic join key, so this plans as a hash/merge join, NEVER a
    // cartesian, and each doc's match count aggregates map-side. The
    // phrase extends to k terms as a chain of k−1 adjacency joins, each
    // bounded by the rarest term's postings.
    Q("q_phrase_search",
      (s, d) => {
        val toks = docs(s, d)
          .select(col("doc_id"),
            posexplode(split(lower(col("text")), " ")).as(Seq("p0", "term")))
          .filter(col("term") =!= "")
          .select(col("doc_id"), (col("p0") + 1).cast("long").as("i"),
            col("term"))
        val a = toks.filter(col("term") === "customer")
          .select(col("doc_id"), col("i"))
        val b = toks.filter(col("term") === "join")
          .select(col("doc_id").as("doc_id_b"), col("i").as("i_b"))
        a.join(b, col("doc_id") === col("doc_id_b") &&
            col("i_b") === col("i") + 1)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_matches"), min(col("i")).as("first_i"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id, string_split(lower(text), ' ') AS toks
                FROM documents),
              u AS (
                SELECT doc_id, unnest(toks) AS term,
                  CAST(generate_subscripts(toks, 1) AS BIGINT) AS i
                FROM t),
              f AS (SELECT * FROM u WHERE term <> '')
              SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
                MIN(a.i) AS first_i
              FROM f a JOIN f b
                ON a.doc_id = b.doc_id AND b.i = a.i + 1
              WHERE a.term = 'customer' AND b.term = 'join'
              GROUP BY a.doc_id ORDER BY a.doc_id""")),

    // ---- weight-proportional sampling --------------------------------------
    // Importance sampling: each document keeps with probability
    // proportional to its size (n_chars / corpus max), decided by the
    // same deterministic md5-unit-interval discipline as q_sample_hash —
    // u(doc) = first 8 md5 hex digits / 16^8, an exact dyadic rational on
    // both engines. The corpus max collapses to a 1-row broadcast;
    // keep/drop is then a codegen'd per-row predicate, stable under
    // corpus growth only via the max (documented: at 100 TB the max is a
    // config constant, not a scan — here it is computed to stay
    // self-contained). Zero data shuffles; the output sort is the
    // determinism convention.
    Q("q_sample_weighted",
      (s, d) => {
        val mx = docs(s, d).agg(max(col("n_chars")).as("mx"))
        sampleWeightedKeep(docs(s, d).crossJoin(broadcast(mx)), col("mx"))
      },
      // hex → int per char like q_quality_classifier (no conv() in DuckDB)
      Some(s"""WITH mx AS (SELECT MAX(n_chars) AS mx FROM documents),
              u AS (
                SELECT doc_id, n_chars,
                  (${(0 until 8).map(k =>
                    s"(strpos('0123456789abcdef', substr(md5('w_' || doc_id), ${k + 1}, 1)) - 1) * ${math.pow(16, 7 - k).toLong}.0")
                    .mkString(" + ")}) / 4294967296.0 AS u
                FROM documents)
              SELECT doc_id, n_chars FROM u, mx
              WHERE u.u < CAST(n_chars AS DOUBLE) / mx.mx
              ORDER BY doc_id""")),

    // ---- weight-proportional sampling, config-constant normalizer ----------
    // The 100 TB arm of q_sample_weighted IN CODE, not just scaladoc: the
    // normalizer is a pipeline config constant (600, a documented upper
    // bound on document length) instead of a corpus max — so the plan has
    // NO aggregate and NO join at all: one scan, one codegen'd keep/drop
    // predicate, the determinism sort. Keep probability n_chars/600 is a
    // true importance sample against the cap; the scan-max arm above
    // stays registered as the self-contained-oracle form. Both arms share
    // [[sampleWeightedKeep]], so they provably differ only in where the
    // normalizer comes from.
    Q("q_sample_weighted_cfg",
      (s, d) => sampleWeightedKeep(docs(s, d), lit(600.0d)),
      Some(s"""WITH u AS (
                SELECT doc_id, n_chars,
                  (${(0 until 8).map(k =>
                    s"(strpos('0123456789abcdef', substr(md5('w_' || doc_id), ${k + 1}, 1)) - 1) * ${math.pow(16, 7 - k).toLong}.0")
                    .mkString(" + ")}) / 4294967296.0 AS u
                FROM documents)
              SELECT doc_id, n_chars FROM u
              WHERE u.u < CAST(n_chars AS DOUBLE) / 600.0
              ORDER BY doc_id""")),

    // ---- BPE vocabulary training (first bpeK merges) -----------------------
    // The tokenizer-training reduction: learn byte-pair-encoding merges
    // over the corpus, char-level within words. Everything after the one
    // corpus scan runs on the WORD-TYPE table (Zipf-bounded — ~10M types
    // at 100 TB, never corpus-sized): each round is one tiny pair-count
    // aggregation (map-side partial), a 1-row broadcast of the argmax
    // pair, and a codegen'd per-word merge. The representation trick that
    // makes rounds exact AND cross-engine: a word is the wrapped-symbol
    // string `(d)(a)(t)(a)`, so applying merge (l,r) is the literal
    // string replace `(l)(r)` → `(lr)` — left-to-right non-overlapping,
    // which is exactly BPE's greedy merge semantics, with no shared
    // boundary characters between adjacent matches (`(a)(a)(a)(a)` →
    // `(aa)(aa)`, not `(aa)(a)(a)`). Both engines' replace() scan
    // left-to-right non-overlapping, so the chained replaces are
    // bit-identical. Ties break on the pair string, so the merge list is
    // fully deterministic. Per-round plan discipline lives in [[bpeTrain]]
    // (merged table localCheckpoints EVERY round — cost flat in k).
    Q("q_bpe_merges",
      (s, d) => {
        val (_, merges) = bpeTrain(s, d)
        merges.reduce(_ unionByName _).orderBy("rank")
      },
      Some(bpeMergesOracleSql)),

    // ---- BPE encoding (apply the trained merges) ---------------------------
    // The other half of the tokenizer story: token counts under the
    // TRAINED tokenizer, not whitespace counts — what a token-budget /
    // packing pipeline actually meters. After the bpeK training rounds the
    // merged word-type table IS the encoder (greedy merge application in
    // training order = the chained replaces already applied), so encoding
    // is: count symbols per word TYPE (tiny), aggregate the corpus to
    // per-(doc, word) counts, and join type→n_tok by word — a SHUFFLE
    // join by design: at 10M+ types the vocabulary is past any broadcast
    // budget, and tf is doc×type-sized, far smaller than the token
    // stream. Output: whitespace vs BPE token counts per document.
    Q("q_bpe_encode",
      (s, d) => bpeDocTokens(s, d).orderBy("doc_id"),
      Some(bpeEncodeOracleSql)),

    // ---- sequence packing under BPE token counts ---------------------------
    // q_seq_pack's budget semantics composed with the real tokenizer:
    // pack by cumulative BPE tokens (budget 256) instead of the n_chars
    // stand-in. Same one-shuffle window shape; the only addition is the
    // doc-count-sized join of per-doc BPE counts back to (source,
    // doc_id). Proves the composed path the verdict asked for: trained
    // merges → per-doc token counts → a downstream budget consumer.
    Q("q_seq_pack_bpe",
      (s, d) => {
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("doc_id")
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        docs(s, d).select(col("doc_id"), col("source"))
          .join(bpeDocTokens(s, d).select(col("doc_id"), col("bpe_tokens")),
            "doc_id")
          .select(col("doc_id"), col("source"), col("bpe_tokens"),
            floor((sum(col("bpe_tokens")).over(win) - col("bpe_tokens"))
              / 256).as("pack_id"))
          .orderBy("source", "doc_id")
      },
      Some(bpeSeqPackOracleSql)),

    // ---- per-language tokenizer fertility ---------------------------------
    // THE multilingual tokenizer health metric: tokens-per-word
    // (fertility) per language under the TRAINED merges, plus the share
    // of word occurrences the tokenizer still encodes as a single symbol
    // sequence of length 1 (fully-merged words — the complement of the
    // over-segmentation a mismatched vocabulary causes). A mix spec uses
    // exactly this table to detect languages the tokenizer punishes
    // before committing a sampling ratio. Fertility ships as exact
    // integer micros (tokens·10⁶ div words — floor division of exact
    // longs, so both engines agree on every digit; at a 10¹³-token corpus
    // promote the product to decimal first). Scale shape: training is
    // the memoized once-per-session table; the corpus collapses to
    // (lang, word-type) counts at the scan before the type-table join —
    // the q_bpe_encode discipline with lang instead of doc_id as the key,
    // so the join is vocabulary-sized, never corpus-sized.
    Q("q_bpe_fertility",
      (s, d) => {
        val (w, _) = bpeTrain(s, d)
        val toks = w.select(col("word"),
          size(split(regexp_replace(col("w"), "^\\(|\\)$", ""), "\\)\\("))
            .cast("long").as("n_tok"))
        docs(s, d).select(col("lang"),
            explode(filter(split(lower(col("text")), " "),
              t => t =!= "")).as("word"))
          .groupBy("lang", "word").agg(count(lit(1)).as("c"))
          .join(toks, "word")
          .groupBy("lang")
          .agg(sum(col("c")).as("n_words"),
            sum(col("c") * col("n_tok")).as("n_bpe_tokens"),
            sum(when(col("n_tok") === 1L, col("c")).otherwise(0L))
              .as("n_single"))
          .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
            expr("(n_bpe_tokens * 1000000) div n_words")
              .as("fertility_micros"),
            col("n_single"))
          .orderBy("lang")
      },
      Some(bpeFertilityOracleSql)),

    // ---- repetition filter (Gopher-family quality gate) ------------------
    // Within-document repetition signals: the duplicate-3-gram fraction
    // (1 − distinct/total over the doc's token 3-grams) and the most
    // frequent token's share of the doc. Ratios are floor-micro doubles
    // (the one IEEE quantization both engines share); docs too short for
    // 3-grams carry dup3_frac 0. keep = dup3_frac ≤ 0.05 AND top_share
    // ≤ 0.2 — the Gopher-style discard rule shape, thresholds set so the
    // gate actually discards on this corpus (8/500 at sf0.01). 100 TB
    // shape: one scan, per-doc HOF/partial aggs, no cross-doc state.
    Q("q_repetition_filter",
      (s, d) => {
        // dup3_frac is PER-ROW (array_distinct over the HOF-built 3-gram
        // list — a linear hash distinct, no explode, no shuffle) and
        // rides the token explode as a grouping constant, so the whole
        // row is ONE explode + a two-level aggregation: no join, and
        // only 32-char hashes ever widen the rows. top_share stays on
        // the explode+agg path deliberately — a per-row HOF count would
        // be O(distinct × n) per doc, quadratic on the 100k-token docs
        // a real corpus has, while the agg is O(n) with map-side
        // partials.
        val withT = docs(s, d)
          .withColumn("toks",
            filter(split(lower(col("text")), " "), t => t =!= ""))
          .withColumn("n_tokens", size(col("toks")).cast("long"))
          .withColumn("dup3_frac", when(col("n_tokens") >= 3,
            floor((lit(1.0) -
              size(array_distinct(transform(
                sequence(lit(1), size(col("toks")) - 2),
                i => md5(concat_ws(" ", slice(col("toks"), i, lit(3)))))))
                .cast("double") / (size(col("toks")) - 2)) * 1e6 + 0.5)
              / 1e6).otherwise(lit(0.0)))
        // explode_outer: a token-less doc (empty/whitespace text) must
        // still get a verdict row — plain explode would silently drop it
        // from the table; its top_share is defined as 0.0
        withT
          .select(col("doc_id"), col("n_tokens"), col("dup3_frac"),
            explode_outer(col("toks")).as("tok"))
          .groupBy("doc_id", "n_tokens", "dup3_frac", "tok")
          .agg(count(lit(1)).as("c"))
          .groupBy("doc_id", "n_tokens", "dup3_frac")
          .agg(when(col("n_tokens") === 0, lit(0.0))
            .otherwise(
              floor(max(col("c")) / col("n_tokens") * 1e6 + 0.5) / 1e6)
            .as("top_share"))
          .withColumn("keep",
            col("dup3_frac") <= 0.05 && col("top_share") <= 0.2)
          .select(col("doc_id"), col("n_tokens"), col("dup3_frac"),
            col("top_share"), col("keep"))
          .orderBy("doc_id")
      },
      Some("""WITH dt AS (
                SELECT doc_id,
                  list_filter(string_split(lower(text), ' '),
                    x -> x <> '') AS toks
                FROM documents),
              dr AS (
                SELECT doc_id, len(toks) AS n_tokens, toks,
                  CASE WHEN len(toks) >= 3 THEN
                    CAST(FLOOR((1.0 - len(list_distinct(
                      [md5(array_to_string(toks[i:i+2], ' '))
                       FOR i IN generate_series(1, len(toks) - 2)]))::DOUBLE
                      / (len(toks) - 2)) * 1000000 + 0.5) AS BIGINT)
                    / 1000000.0
                  ELSE 0.0 END AS dup3_frac
                FROM dt),
              tc AS (
                SELECT doc_id, n_tokens, dup3_frac, tok, COUNT(*) AS c
                FROM (SELECT doc_id, n_tokens, dup3_frac,
                        unnest(CASE WHEN len(toks) = 0 THEN [NULL]
                               ELSE toks END) AS tok
                      FROM dr)
                GROUP BY doc_id, n_tokens, dup3_frac, tok),
              ts AS (
                SELECT doc_id, n_tokens, dup3_frac,
                  CASE WHEN n_tokens = 0 THEN 0.0 ELSE
                    CAST(FLOOR(MAX(c)::DOUBLE / n_tokens * 1000000 + 0.5)
                      AS BIGINT) / 1000000.0 END AS top_share
                FROM tc GROUP BY doc_id, n_tokens, dup3_frac)
              SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                dup3_frac, top_share,
                dup3_frac <= 0.05 AND top_share <= 0.2 AS keep
              FROM ts ORDER BY doc_id""")),

  )

  // ---- BPE machinery (shared by q_bpe_merges / q_bpe_encode /
  // q_seq_pack_bpe and their generated oracles) -----------------------------

  /** Merge-round count — a def shared with the oracle generators so the
    * two engines can never disagree on K. */
  private[graft] def bpeK: Int = 16

  /** Word-type table (word, w, cnt): ONE corpus scan, Zipf-bounded rows,
    * localCheckpointed so every training round reads types, never text. */
  private def bpeWords0(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(explode(filter(split(lower(col("text")), " "),
        t => t =!= "")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("word"),
        regexp_replace(col("word"), "(.)", "($1)").as("w"), col("cnt"))
      .localCheckpoint()

  /** The argmax adjacent symbol pair (l, r, n) of a wrapped-symbol word
    * table, weighted by type counts; ties break on the pair string. */
  private def bpeBestPair(w: DataFrame): DataFrame = {
    val syms = split(regexp_replace(col("w"), "^\\(|\\)$", ""), "\\)\\(")
    w.select(col("cnt"), syms.as("s"))
      .select(col("cnt"), explode(arrays_zip(
        slice(col("s"), lit(1), size(col("s")) - 1).as("l"),
        slice(col("s"), lit(2), size(col("s")) - 1).as("r"))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, concat_ws(" ", col("l"), col("r")))
      .limit(1)
  }

  /** One merge round: the 1-row argmax pair meets the type table via
    * broadcast only; the merge itself is a codegen'd string replace. */
  private def bpeApply(w: DataFrame, best: DataFrame): DataFrame =
    w.crossJoin(broadcast(
        best.select(col("l").as("ml"), col("r").as("mr"))))
      .select(col("word"), replace(col("w"),
        concat(lit("("), col("ml"), lit(")("), col("mr"), lit(")")),
        concat(lit("("), col("ml"), col("mr"), lit(")"))).as("w"),
        col("cnt"))

  /** One un-checkpointed merge round, exposed so PlanSpec can pin the
    * round's plan shape (broadcast argmax, partial-aggregated pair
    * counts) — the checkpoints in [[bpeTrain]] hide it from the final
    * query plan. */
  private[graft] def bpeRoundForTest(s: SparkSession, d: String): DataFrame = {
    val w0 = bpeWords0(s, d)
    bpeApply(w0, bpeBestPair(w0))
  }

  /** The bpeK training rounds → (merged word table, one 1-row merge frame
    * per round). The merged table localCheckpoints EVERY round: without
    * the cut, round k's frame chains all k−1 prior argmax limit-1
    * subtrees and each later round plus the final union re-evaluates
    * them — ~K²/2 pair-count shuffles at a 10M-type corpus. With it,
    * per-round work is flat in k: one pair-count aggregation to pick the
    * pair (at checkpoint time) and one to re-emit it in the output union,
    * both over the previous CHECKPOINTED type table, never the corpus.
    * At true corpus scale the K retained type tables would instead be
    * written round-by-round to a side table and superseded ones freed;
    * here they are 31-row local RDDs. */
  private def bpeTrainOnce(s: SparkSession, d: String)
      : (DataFrame, Seq[DataFrame]) = {
    var w = bpeWords0(s, d)
    val merges = (1 to bpeK).map { k =>
      val best = bpeBestPair(w)
      w = bpeApply(w, best).localCheckpoint()
      best.select(lit(k.toLong).as("rank"), col("l"), col("r"), col("n"))
    }
    (w, merges)
  }

  /** Train-once surface over [[bpeTrainOnce]]: the trained merge table is
    * memoized per (session, corpus dir), so the three dependent rows
    * (q_bpe_merges / q_bpe_encode / q_seq_pack_bpe) share ONE training run
    * per harness session instead of retraining the identical K rounds
    * three times — the materialized-intermediate production shape (train
    * once, every consumer reads the trained table). Rows stay
    * self-contained: each still declares its full plan and its DuckDB
    * oracle retrains independently, so the cache can only ever skip
    * byte-identical work (bpeWords0 + the K rounds are deterministic in
    * (corpus, K)). Entries hold K+1 tiny localCheckpointed type tables;
    * a stopped session's entry is never reused because the key is the
    * session object itself. */
  private val bpeTrained = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (DataFrame, Seq[DataFrame])]
  private def bpeTrain(s: SparkSession, d: String)
      : (DataFrame, Seq[DataFrame]) = {
    val key = (s, d)
    val hit = bpeTrained.get(key)
    if (hit != null) hit
    else {
      val v = bpeTrainOnce(s, d) // idempotent: a concurrent race just
      bpeTrained.put(key, v)     // trains twice and keeps the later one
      v
    }
  }

  /** Per-document token accounting under the trained tokenizer:
    * (doc_id, ws_tokens, bpe_tokens). The final wrapped-symbol word table
    * doubles as the encoder; the corpus collapses to (doc, word-type)
    * counts before anything joins. */
  private def bpeDocTokens(s: SparkSession, d: String): DataFrame = {
    val (w, _) = bpeTrain(s, d)
    val toks = w.select(col("word"),
      size(split(regexp_replace(col("w"), "^\\(|\\)$", ""), "\\)\\("))
        .cast("long").as("n_tok"))
    val tf = docs(s, d).select(col("doc_id"),
        explode(filter(split(lower(col("text")), " "),
          t => t =!= "")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    tf.join(toks, "word")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("ws_tokens"),
        sum(col("c") * col("n_tok")).as("bpe_tokens"))
  }

  /** Shared oracle for q_inverted_index AND q_inverted_index_shard: the
    * sharded build must reproduce the unsharded index byte-for-byte
    * (contiguous doc-range shards concatenate into the globally
    * doc-ordered postings string), so one SQL serves both rows and the
    * hash compare proves the equivalence. */
  private def invertedIndexOracleSql: String =
    """WITH t AS (
         SELECT doc_id, string_split(lower(text), ' ') AS toks
         FROM documents),
       u AS (
         SELECT doc_id, unnest(toks) AS term,
           CAST(generate_subscripts(toks, 1) AS BIGINT) AS i
         FROM t),
       f AS (SELECT * FROM u WHERE term <> '')
       SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
         CAST(COUNT(*) AS BIGINT) AS cf,
         md5(string_agg(doc_id || ':' || i, ','
           ORDER BY doc_id, i)) AS postings_md5,
         MIN(doc_id) AS first_doc
       FROM f GROUP BY term ORDER BY term"""

  /** Multinomial Naive Bayes fit + score kernel of q_nb_classifier (and
    * MixLmSpec's planted-frame accuracy pin). Input frame: (doc_id LONG,
    * label STRING, is_train BOOLEAN, toks ARRAY<STRING>). Fits add-1-
    * smoothed per-(word, label) likelihoods and label priors on the
    * is_train rows, scores EVERY row, returns (doc_id, actual, pred,
    * correct) with the argmax tie-broken on the label string. All score
    * arithmetic is exact decimal over ln of integer ratios — see the
    * q_nb_classifier scaladoc for the discipline and the plan shape. */
  private[graft] def nbClassify(base: DataFrame): DataFrame = {
    val rkw = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("l"))
    val toks = base.select(col("doc_id"), col("label"), col("is_train"),
        explode(col("toks")).as("w"))
      .filter(col("w") =!= "")
    val train = toks.filter(col("is_train"))
    // r19: ONE tokenizing pass over the train split. The fit previously
    // re-scanned and re-exploded the corpus for nl (train tokens per
    // label), v (train vocabulary size) and dtot (train doc count) —
    // six source scans in the plan — but all three are exact rollups of
    // frames already in hand: nl = Σ_w cwl.c per label, v = cwl's
    // distinct w count, dtot = Σ dl. cwl/dl are checkpointed because
    // they now feed the derived stats AND their original joins (cwl is
    // vocabulary×L rows, dl is L rows — label taxonomies and
    // vocabularies are bounded, never corpus-sized).
    val cwl = train.groupBy(col("w"), col("label").as("l"))
      .agg(count(lit(1)).as("c")).localCheckpoint()
    val dl = base.filter(col("is_train")).groupBy("label")
      .agg(count(lit(1)).as("dl")).localCheckpoint()
    val langStats = dl
      .join(cwl.groupBy(col("l").as("label"))
        .agg(sum(col("c")).as("nl")), "label")
      .crossJoin(broadcast(cwl.select("w").distinct()
        .agg(count(lit(1)).as("v"))))
      .crossJoin(broadcast(dl.agg(sum(col("dl")).as("dtot"))))
      .select(col("label").as("l"), col("dl"), col("nl"), col("v"),
        col("dtot"))
    val tf = toks.groupBy("doc_id", "label", "w")
      .agg(count(lit(1)).cast("decimal(12,0)").as("tf"))
    tf.crossJoin(broadcast(langStats))
      .join(cwl, Seq("w", "l"), "left")
      .withColumn("term", (col("tf") *
        Arith.micro6(log((coalesce(col("c"), lit(0L)) + lit(1.0)) /
          (col("nl") + col("v")))).cast("decimal(24,6)"))
        .cast("decimal(38,6)"))
      .groupBy("doc_id", "label", "l", "dl", "dtot")
      .agg(sum(col("term")).as("lk"))
      .withColumn("score",
        (Arith.micro6(log(col("dl").cast("double") / col("dtot")))
          .cast("decimal(38,6)") + col("lk")).cast("decimal(38,6)"))
      .withColumn("rk", row_number().over(rkw))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("label").as("actual"),
        col("l").as("pred"), (col("l") === col("label")).as("correct"))
      .orderBy("doc_id")
  }

  /** Shared keep/drop kernel of the two q_sample_weighted arms: the
    * deterministic md5-unit-interval draw u(doc) compared against
    * n_chars / norm, where `norm` is either the broadcast corpus max
    * (oracle-self-contained arm) or a config-constant cap (the 100 TB
    * arm — zero aggregates, zero joins, scan-bound). */
  private def sampleWeightedKeep(df: DataFrame,
      norm: org.apache.spark.sql.Column): DataFrame =
    df.withColumn("u",
        conv(substring(md5(concat(lit("w_"), col("doc_id"))), 1, 8),
          16, 10).cast("double") / 4294967296.0)
      .filter(col("u") < col("n_chars").cast("double") / norm)
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")

  /** Single-wrapper paren strip, the DuckDB twin of the Spark side's
    * regexp_replace(w, "^\\(|\\)$", ""): exactly ONE leading and ONE
    * trailing wrapper paren. (trim(w, '()') would strip ALL leading/
    * trailing chars in the set and diverge on corpus tokens that
    * themselves contain parens — a wrapped ')' ends the word in '))'.) */
  private def bpeStripSql(col: String): String =
    s"regexp_replace($col, '^\\(|\\)$$', '', 'g')"

  /** The DuckDB twin of [[bpeTrain]]: the same wrapped-symbol replace
    * trick, unrolled as a bpeK-level CTE chain (p_k = weighted
    * adjacent-pair counts, b_k = argmax with the pair-string tie-break,
    * w_k = the merged word table, `word` carried through for the encode
    * consumers). Generated, not hand-written, so the round count can't
    * drift from the Spark side. b_k/w_k are MATERIALIZED: each is
    * referenced more than once and DuckDB inlines CTEs by default, which
    * at K=16 would double the plan per round. */
  private def bpeRoundsSqlCtes: String = {
    val rounds = (1 to bpeK).map { k =>
      s"""p$k AS (
           SELECT s[i] AS l, s[i + 1] AS r, CAST(SUM(cnt) AS BIGINT) AS n
           FROM (SELECT string_split(${bpeStripSql("w")}, ')(') AS s, cnt
                 FROM w${k - 1}),
                LATERAL unnest(generate_series(1, len(s) - 1)) AS g(i)
           GROUP BY 1, 2),
         b$k AS MATERIALIZED (SELECT l, r, n FROM p$k
                 ORDER BY n DESC, l || ' ' || r LIMIT 1),
         w$k AS MATERIALIZED (SELECT word, replace(w,
                   '(' || (SELECT l FROM b$k) || ')('
                       || (SELECT r FROM b$k) || ')',
                   '(' || (SELECT l FROM b$k)
                       || (SELECT r FROM b$k) || ')') AS w, cnt
                 FROM w${k - 1})"""
    }.mkString(",\n")
    s"""wd AS (
          SELECT w AS word, COUNT(*) AS cnt FROM (
            SELECT unnest(string_split(lower(text), ' ')) AS w
            FROM documents)
          WHERE w <> '' GROUP BY w),
        w0 AS (SELECT word, regexp_replace(word, '(.)', '(\\1)', 'g') AS w,
               cnt FROM wd),
        $rounds"""
  }

  private def bpeMergesOracleSql: String = {
    val out = (1 to bpeK).map(k =>
      s"SELECT CAST($k AS BIGINT) AS rank, l, r, n FROM b$k")
      .mkString("\n UNION ALL ")
    s"""WITH $bpeRoundsSqlCtes
        SELECT * FROM ($out) ORDER BY rank"""
  }

  /** tok (word → token count under the trained merges) and tf (per-doc
    * word-type counts) — the encode-side CTEs shared by the
    * q_bpe_encode and q_seq_pack_bpe oracles. */
  private def bpeTokCtes: String =
    s"""tok AS (SELECT word,
             CAST(len(string_split(${bpeStripSql("w")}, ')(')) AS BIGINT)
               AS n_tok
           FROM w$bpeK),
        tf AS (SELECT doc_id, word, COUNT(*) AS c FROM (
                 SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
                 FROM documents)
               WHERE word <> '' GROUP BY doc_id, word)"""

  private def bpeEncodeOracleSql: String =
    s"""WITH $bpeRoundsSqlCtes,
        $bpeTokCtes
        SELECT tf.doc_id, CAST(SUM(tf.c) AS BIGINT) AS ws_tokens,
          CAST(SUM(tf.c * tok.n_tok) AS BIGINT) AS bpe_tokens
        FROM tf JOIN tok USING (word)
        GROUP BY tf.doc_id ORDER BY tf.doc_id"""

  private def bpeSeqPackOracleSql: String =
    s"""WITH $bpeRoundsSqlCtes,
        $bpeTokCtes,
        dt AS (SELECT tf.doc_id,
                 CAST(SUM(tf.c * tok.n_tok) AS BIGINT) AS bpe_tokens
               FROM tf JOIN tok USING (word) GROUP BY tf.doc_id)
        SELECT d.doc_id, d.source, dt.bpe_tokens,
          CAST(FLOOR((SUM(dt.bpe_tokens) OVER (PARTITION BY d.source
            ORDER BY d.doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - dt.bpe_tokens) / 256.0) AS BIGINT) AS pack_id
        FROM documents d JOIN dt ON d.doc_id = dt.doc_id
        ORDER BY d.source, d.doc_id"""

  /** q_bpe_fertility's twin: same trained type table, lang-keyed term
    * counts, and the exact integer-micros floor division (`//` in DuckDB,
    * `div` in Spark — both floor division of exact positive longs). */
  private def bpeFertilityOracleSql: String =
    s"""WITH $bpeRoundsSqlCtes,
        tok AS (SELECT word,
             CAST(len(string_split(${bpeStripSql("w")}, ')(')) AS BIGINT)
               AS n_tok
           FROM w$bpeK),
        tfl AS (SELECT lang, word, COUNT(*) AS c FROM (
                 SELECT lang, unnest(string_split(lower(text), ' ')) AS word
                 FROM documents)
               WHERE word <> '' GROUP BY lang, word)
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n_words,
          CAST(SUM(c * tok.n_tok) AS BIGINT) AS n_bpe_tokens,
          CAST((SUM(c * tok.n_tok) * 1000000) // SUM(c) AS BIGINT)
            AS fertility_micros,
          CAST(SUM(CASE WHEN tok.n_tok = 1 THEN c ELSE 0 END) AS BIGINT)
            AS n_single
        FROM tfl JOIN tok USING (word)
        GROUP BY lang ORDER BY lang"""
}
