package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec,
  ShuffledHashJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the properties that make queries survive a 100×
  * scale-up, pinned so a refactor can't silently regress them.
  */
class PlanSpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    explain(SparkEntry.queries(name)(spark, sfDir))

  private def explain(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Walks physical plans through AQE's wrapper and query stages. */
  private object aqe extends AdaptiveSparkPlanHelper

  private def hashJoins(df: DataFrame): Seq[ShuffledHashJoinExec] =
    aqe.collect(df.queryExecution.executedPlan) {
      case j: ShuffledHashJoinExec => j
    }

  private def buildCols(j: ShuffledHashJoinExec): Set[String] =
    (if (j.buildSide == BuildRight) j.right else j.left)
      .output.map(_.name).toSet

  /** True for Tables.scanFloor's keyed scan-spread exchange — and FAILS
    * for any other REPARTITION_BY_NUM exchange (r18 verdict item 2: a
    * class-blind exemption would let a regression back to the measured-
    * and-rejected ROUND-ROBIN floor — whose keyless repartition pays a
    * single-core sortBeforeRepartition over the one-row-group scan,
    * 1.5× median sweep inflation — pass every shuffle-key pin silently).
    * The floor may only ever hash on the three fact tables' stable ids. */
  private def isScanFloorExchange(l: String): Boolean =
    l.contains("REPARTITION_BY_NUM") && {
      assert(l.contains("hashpartitioning"),
        s"REPARTITION_BY_NUM exchange is not hash-keyed — round-robin " +
          s"scan-floor regression: $l")
      assert(Seq("doc_id#", "vec_id#", "event_id#").exists(l.contains),
        s"scan-floor exchange keys on an unexpected column: $l")
      true
    }

  test("scan-floor exchanges are hash-keyed on the fact tables' ids") {
    // positive control for [[isScanFloorExchange]] across one consumer of
    // each floored table (documents / embeddings / events): the testdata
    // ships single-row-group parquet, so the floor must FIRE here — and
    // every firing must hash on the table's stable id (a round-robin
    // regression trips the helper's internal asserts)
    for (q <- Seq("q_quality_classifier", "q_embed_stats", "q_dedup_latest")) {
      val floorEx = plan(q).linesIterator
        .filter(_.contains("REPARTITION_BY_NUM")).toSeq
      assert(floorEx.nonEmpty,
        s"$q lost its scan-parallelism floor on the one-row-group testdata")
      floorEx.foreach(l => assert(isScanFloorExchange(l)))
    }
  }

  test("q_filter pushes predicates into the parquet scan and prunes columns") {
    val p = plan("q_filter")
    assert(p.contains("PushedFilters: [IsNotNull"), "predicates not pushed")
    assert(p.contains("EqualTo(l_returnflag,R)"), "literal filter not pushed")
    // pruned read schema: no l_tax/l_comment columns in the scan
    assert(!p.contains("l_tax"), "column pruning failed")
  }

  test("sorted-limit queries use TakeOrderedAndProject, not a global sort") {
    for (q <- Seq("q_scan", "q_filter", "q_topk", "q_project")) {
      assert(plan(q).contains("TakeOrderedAndProject"),
        s"$q does a full range-partition sort")
    }
  }

  test("q_join broadcasts the dimension side") {
    assert(plan("q_join").contains("BroadcastHashJoin"))
  }

  test("aggregations do map-side partial aggregation") {
    for (q <- Seq("q_agg", "q_wordcount", "q_histogram")) {
      assert(plan(q).contains("partial_"), s"$q has no partial aggregate")
    }
  }

  test("q_bm25 takes its top-20 via TakeOrderedAndProject") {
    assert(plan("q_bm25").contains("TakeOrderedAndProject"),
      "bm25 does a full global sort for its limit")
  }

  test("q_cooccur_pmi gates on support before the marginal joins") {
    // the c2 ≥ 5 filter must sit BELOW the w1/w2 marginal joins (only
    // frequent pairs shuffle twice; parents print before children in the
    // plan tree, so the join index must come first), and the top-30 is
    // TakeOrderedAndProject, never a global sort
    val p = plan("q_cooccur_pmi")
    assert(p.contains("TakeOrderedAndProject"), p)
    // strategy-agnostic: Catalyst broadcasts the tiny sf0.001 marginals
    // (at corpus scale stats flip these to shuffle joins — not forced)
    val joinPos = Seq(p.indexOf("SortMergeJoin"), p.indexOf("BroadcastHashJoin"))
      .filter(_ >= 0).minOption.getOrElse(-1)
    val gatePos = p.indexOf(">= 5)")
    assert(joinPos >= 0 && gatePos >= 0, p)
    assert(joinPos < gatePos, s"support gate above the joins:\n$p")
  }

  test("cosine_sim participates in whole-stage codegen over a scan") {
    val s = spark
    import org.apache.spark.sql.functions.col
    // raw parquet read, NOT Tables(): the scan-parallelism floor
    // (Tables.scanFloor) would put an exchange under the projection, AQE
    // would wrap the plan, and codegen collapse would be deferred to
    // runtime — this test is about the EXPRESSION being codegen-capable
    // (a CodegenFallback would be ejected from any span), so the
    // exchange-free plan where spans print statically is the right probe
    val p = s.read.parquet(s"$sfDir/embeddings.parquet")
      .select(graft.functions.CosineSim(s, col("embedding"), col("embedding"))
        .as("c"))
      .queryExecution.executedPlan.toString
    val projLine = p.linesIterator.find(_.contains("cosine_sim(")).get
    // a CodegenFallback expression would force the Project out of the
    // WholeStageCodegen span (no "*(n)" prefix)
    assert(projLine.contains("*("), s"cosine_sim outside codegen: $projLine")
  }

  test("q_pipeline reads the corpus once: single scan, no join") {
    // The composed funnel must not fork the plan into a pre-filter branch
    // and a survivor branch — that would read the (100 TB) text column
    // twice. One parquet scan, a window on the narrow hashed projection,
    // one aggregate, zero joins.
    val p = plan("q_pipeline")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"q_pipeline plans $scans parquet scans:\n$p")
    assert(!p.contains("Join"), s"q_pipeline plans a join:\n$p")
  }

  test("q_phrase_search is an adjacency equi-join, never a cartesian") {
    // Catalyst must extract (doc_id, i+1) = (doc_id_b, i_b) as equi keys;
    // a nested-loop here would scan |postings(a)| × |postings(b)| at
    // corpus scale
    val p = plan("q_phrase_search")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"phrase adjacency join degenerated:\n$p")
    assert(p.contains("Join"), s"no join planned:\n$p")
  }

  test("q_inverted_index partial-aggregates postings map-side") {
    assert(plan("q_inverted_index").contains("partial_"),
      "inverted index has no map-side partial aggregation")
  }

  test("q_pca_cov and q_embed_quantize broadcast stats, never shuffle-join") {
    // the corpus-side data path must only ever meet the tiny stats row
    // via broadcast: a SortMergeJoin/ShuffledHashJoin here would shuffle
    // every vector at 100 TB for a 64-entry stats lookup
    for (q <- Seq("q_pca_cov", "q_embed_quantize")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q shuffle-joins the stats side:\n$p")
      assert(p.contains("partial_"), s"$q has no map-side partial aggregation")
    }
  }

  test("q_bpe_merges rounds broadcast the argmax pair, never shuffle-join") {
    // each merge round must meet the 1-row best-pair frame via broadcast;
    // the word-type table itself shuffles only for the tiny pair-count
    // aggregations (which must partial-aggregate map-side). Pinned on a
    // single un-checkpointed round (operators.TextOps.bpeRoundForTest):
    // in the full query the per-round localCheckpoints — the fix for the
    // K²/2 recomputation — hide the round plan from the final frame.
    val p = graft.operators.TextOps.bpeRoundForTest(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"merge round shuffle-joins the argmax row:\n$p")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"argmax pair does not arrive via broadcast:\n$p")
    assert(p.contains("partial_"), "pair counts have no partial aggregation")
  }

  test("q_sample_weighted_cfg plans no aggregate and no join") {
    // the config-constant-normalizer arm must be pure scan → filter →
    // sort: a planned aggregate or join means the corpus-max scan crept
    // back in and the 100 TB scan-bound contract is gone
    val p = plan("q_sample_weighted_cfg")
    assert(!p.contains("Aggregate"), s"cfg arm aggregates the corpus:\n$p")
    assert(!p.contains("Join"), s"cfg arm plans a join:\n$p")
  }

  test("q_sample_temperature meets its mixture stats only via broadcast") {
    // the lang-count frame and 1-row normalizer must reach the corpus
    // scan as broadcasts — a shuffle join here moves every document for
    // a #langs-row lookup
    val p = plan("q_sample_temperature")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"mixture stats arrive via shuffle join:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"mixture stats not broadcast:\n$p")
  }

  test("q_perplexity_filter joins counts by shuffle, never cartesian") {
    // the LM count tables are vocab-sized BY DESIGN (shuffle joins are
    // the contract); what must never appear is an all-pairs join, and
    // the count aggregations must partial-aggregate map-side. Same
    // contract for the NB classifier's (w,l) likelihood join — its only
    // nested-loop joins are the broadcast L-row stats expansions.
    for (q <- Seq("q_perplexity_filter", "q_nb_classifier")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q planned a cartesian:\n$p")
      assert(p.contains("partial_"), s"$q lacks partial aggregation")
    }
  }

  test("centroid assignment is a per-row array argmax, not an n×k aggregation") {
    // the ×100 embed stress measured the old groupBy-over-crossJoin
    // argmax at 116 GB of sort-fallback spill (ObjectHashAggregate's
    // 128-key threshold); the array form streams the scan. Pin the
    // form: array_max present, the max_by aggregation gone.
    val e = Tables(spark, sfDir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val p = operators.Similarity.ivfAssign(spark, e, 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("array_max"),
      s"assignment lost the array-argmax form:\n$p")
    assert(!p.contains("max_by"),
      s"assignment reverted to the n×k aggregation:\n$p")
  }

  test("q_cosine_pairs never plans a cartesian product") {
    assert(!plan("q_cosine_pairs").contains("CartesianProduct"))
    assert(!plan("q_dedup_embed").contains("CartesianProduct"))
  }

  test("q_dedup_embed_lsh candidates come from a band equi-join") {
    // the whole point of the banded signature: candidate generation must
    // plan as an equi-join on (band_idx, band_key), never an all-pairs
    // nested loop over the corpus
    val p = plan("q_dedup_embed_lsh")
    assert(!p.contains("CartesianProduct"),
      s"LSH candidate join degenerated to a cartesian:\n$p")
  }

  test("q_join_notin plans a NULL-AWARE anti join") {
    // the semantic difference from q_join_anti: one build-side NULL must
    // empty the result, which a plain hash anti-join cannot honor
    // BroadcastHashJoinExec prints its isNullAwareAntiJoin flag as the
    // trailing boolean: "..., LeftAnti, BuildRight, true"
    val p = plan("q_join_notin")
    assert(p.contains("LeftAnti, BuildRight, true"),
      s"NOT IN lost its null-aware anti-join plan:\n$p")
  }

  test("q_exists_correlated plans a broadcast nested-loop semi join") {
    val p = plan("q_exists_correlated")
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("Semi"),
      s"non-equi EXISTS lost its BNLJ semi shape:\n$p")
  }

  test("q_merge_upsert plans one anti-join and no cartesian") {
    val p = plan("q_merge_upsert")
    assert(p.contains("LeftAnti"), s"merge lost its anti-join shape:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_vocab_bigrams prunes to the text column and partial-aggregates") {
    val p = plan("q_vocab_bigrams")
    assert(p.contains("partial_"), "bigram count has no partial aggregate")
    // doc_id is allowed: it is Tables.scanFloor's spread key (r18) and
    // rides the scan for that exchange only — one long column. Every
    // OTHER documents column must still prune out of the scan.
    for (c <- Seq("source", "n_chars", "lang", "url"))
      assert(!p.contains(c), s"bigram scan reads pruned column $c")
  }

  test("q_tfidf does not FORCE a broadcast of the document-frequency table") {
    // at tiny sf Catalyst's size estimate legitimately broadcasts the df
    // side; what must NOT exist is a broadcast() hint that would still
    // force it at web-scale vocabulary sizes. With auto-broadcast off,
    // the word join must degrade to a shuffle join (only the 1-row
    // corpus-count crossJoin may stay a BroadcastNestedLoopJoin).
    val s = spark
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q_tfidf")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("BroadcastHashJoin"), p)
    } finally
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_dedup_embed_ivf joins within buckets, never a cartesian") {
    val p = plan("q_dedup_embed_ivf")
    assert(!p.contains("CartesianProduct"), "bucketed dedup went all-pairs")
    // candidate edges come from an equi-join on `bucket`
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q_knn_join ranks within buckets, never a cartesian") {
    // the kNN-join's candidate set is the bucket self-join (equi on
    // `bucket`); an all-pairs nested loop would be n² at 100 TB
    val p = plan("q_knn_join")
    assert(!p.contains("CartesianProduct"), "kNN-join went all-pairs")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q_lsh_recall candidates come from a band equi-join, no cartesian") {
    assert(!plan("q_lsh_recall").contains("CartesianProduct"),
      "seeded-LSH recall probe degenerated to a cartesian")
  }

  test("q_dedup_incremental and q_ann_ivfpq never plan a cartesian") {
    // incremental near-dup candidates come from the batch×corpus BAND
    // equi-join; IVF-PQ scoring joins codes against broadcast LUTs
    assert(!plan("q_dedup_incremental").contains("CartesianProduct"),
      "incremental dedup went all-pairs")
    assert(!plan("q_ann_ivfpq").contains("CartesianProduct"),
      "IVF-PQ scoring went all-pairs")
  }

  test("q_soft_dedup shuffles digests only, with map-side partial counts") {
    // the text is hashed IN the scan: every hash exchange must key on the
    // digest (never doc_id/text), the cluster count must partial-aggregate
    // map-side (a Zipf-giant duplicate cluster = one partial row per task),
    // and the only other exchange is the determinism sort's range partition
    val p = plan("q_soft_dedup")
    assert(p.contains("partial_count"),
      s"cluster count not map-side partial-aggregated:\n$p")
    // REPARTITION_BY_NUM exchanges are Tables.scanFloor's keyed
    // scan-parallelism spread (r18), not data shuffles — exempt here
    val hashEx = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning"))
      .filterNot(isScanFloorExchange).toSeq
    assert(hashEx.nonEmpty && hashEx.forall(_.contains("h#")),
      s"a shuffle keys on something besides the digest:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_mixture_weights collapses the corpus at the scan: partial " +
      "integer aggs, source-keyed exchange only") {
    // the scan-collapse stage (pinned on the checkpoint-free factored
    // frame — the q_ngram_novelty lesson): doc-level rows must reduce
    // map-side to per-source (count, qsum) partials, and the only
    // exchange keys on `source` — document text never shuffles. The MW
    // rounds after this frame are arithmetic on a #sources-row
    // checkpointed frame vs 1-row broadcast normalizers.
    val p = operators.TextOps.mixturePerSource(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"per-source aggregate not map-side partial:\n$p")
    val hashEx = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning"))
      .filterNot(isScanFloorExchange).toSeq // scanFloor spread (key-pinned)
    assert(hashEx.nonEmpty && hashEx.forall(_.contains("source#")),
      s"a shuffle keys on something besides source:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_ngram_novelty shuffles window hashes, claim pass partial-aggs") {
    // per-(source, wh) distinct + the min(source) claim pass both key
    // their exchanges on wh (± source) — 32-char hashes, never text —
    // and the claim min must combine map-side. Pinned on the
    // CHECKPOINT-FREE variant (r17 ADVICE): the registered row's eager
    // localCheckpoint truncates the distinct's hashpartitioning
    // (source, wh) exchange — the largest stage — out of the explained
    // plan, so the registered plan alone could not assert it.
    val p = operators.TextOps
      .ngramNovelty(spark, sfDir, checkpoint = false)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_min"),
      s"claim pass not map-side partial-aggregated:\n$p")
    val hashEx = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning"))
      .filterNot(isScanFloorExchange).toSeq // scanFloor spread (key-pinned)
    assert(hashEx.nonEmpty && hashEx.forall(l =>
      l.contains("wh#") || l.contains("source#")),
      s"a shuffle keys on something besides wh/source:\n$p")
    // the distinct's own exchange must now be visible AND keyed on the
    // (source, wh) pair — the stage the checkpoint used to hide
    assert(hashEx.exists(l => l.contains("wh#") && l.contains("source#")),
      s"the (source, wh) distinct exchange is missing from the plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_boilerplate_ngrams: hash-keyed heavy agg, TakeOrdered top-k, " +
      "broadcast winner recovery, no cartesian") {
    // the corpus-sized aggregation must key on the 32-char window hash
    // (text never shuffles on the wide path), the top-20 cut must be a
    // TakeOrderedAndProject (no materialized global sort), and gram
    // TEXT must reach the plan only through the broadcast winner join
    val p = plan("q_boilerplate_ngrams")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 cut is not a TakeOrderedAndProject:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"winner recovery is not a broadcast join:\n$p")
    assert(p.contains("partial_count"),
      s"df count not map-side partial-aggregated:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_profile_approx plans no Expand; exact q_profile is the control") {
    // the exact profile's k countDistinct aggregates expand the scan
    // k-ways — the documented swap-at-scale is the HLL arm, which must
    // keep the scan single: no Expand anywhere in the registered row
    // (its exact harness runs one SINGLE-distinct aggregate per column,
    // which never expands)
    assert(plan("q_profile").contains("Expand"),
      "positive control: exact q_profile should carry the Expand")
    val p = plan("q_profile_approx")
    assert(!p.contains("Expand"),
      s"the approx profile arm still expands the scan:\n$p")
  }

  test("q_knn_classify stays bucket-bounded, never a cartesian") {
    // candidates ride q_knn_join's bucket equi-join; the label join is a
    // vec_id equi-join — an all-pairs plan would be n² at 100 TB
    assert(!plan("q_knn_classify").contains("CartesianProduct"),
      "kNN classify went all-pairs")
  }

  test("q_decontaminate broadcasts the eval set against the corpus scan") {
    // the benchmark suite is always small: the corpus must stream map-side
    // through a broadcast join, never shuffle on the window hash
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval-set join not broadcast:\n$p")
  }

  test("q_repetition is one scan with no join") {
    val p = plan("q_repetition")
    assert(!p.contains("Join"), s"q_repetition plans a join:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
  }

  test("q_quality_classifier shuffles only for the output sort") {
    // the hashed linear model has no weight table: the margin is a
    // per-row fold over the token array, so the plan must be one scan,
    // no join, and the only Exchange the determinism sort's range
    // partitioning
    val p = plan("q_quality_classifier")
    assert(!p.contains("Join"), s"classifier plans a join:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    // the round-robin exchange is Tables.scanFloor's scan-parallelism
    // floor (r18: the one-row-group testdata plans single-task scans), not
    // a data shuffle: it carries the scan's pruned columns, never keys
    val exch = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exch.forall(e => e.contains("rangepartitioning") ||
        isScanFloorExchange(e)),
      s"non-sort, non-scan-floor exchange in classifier plan:\n$p")
  }

  test("q_outliers broadcasts the stats frame back over the scan") {
    // pass 1 partial-aggregates per-type stats; pass 2 must be a
    // broadcast join + map-side filter, not a shuffle of the fact rows
    val p = plan("q_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"outliers shuffle-joins:\n$p")
  }

  test("q_skew_profile broadcasts totals and top-20s without a global sort") {
    // the per-key counts partial-aggregate; the 1-row totals frame joins
    // back by broadcast (never a shuffle of the counts), and the top-20
    // is TakeOrderedAndProject
    val p = plan("q_skew_profile")
    assert(p.contains("partial_"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"skew profile shuffle-joins:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_text_chunk and q_char_entropy shuffle only for determinism") {
    // chunking is a per-row explode — no join, no aggregation before the
    // output sort; entropy is two partial-aggregated groupBys, no join
    val pc = plan("q_text_chunk")
    assert(!pc.contains("Join"), pc)
    val pe = plan("q_char_entropy")
    assert(!pe.contains("Join"), pe)
    assert(pe.contains("partial_"), pe)
  }

  test("q_ann_kmeans broadcasts centroids and partial-aggregates buffers") {
    val p = plan("q_ann_kmeans")
    // both the seeding pass and the reassignment pass broadcast the tiny
    // centroid set; the corpus itself is never shuffled whole
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // VecCentroid buffers partial-aggregate map-side before the exchange
    assert(p.contains("partial_"), "centroid agg has no partial phase")
  }

  test("q_shard_manifest is one pruned scan with a partial manifest agg") {
    val p = plan("q_shard_manifest")
    // the manifest is 16 partial rows per task meeting one exchange —
    // nothing else: no join anywhere, and the scan must not read the
    // text/lang/source columns for a (doc_id, n_chars)-derived output
    assert(p.contains("partial_"), "manifest agg has no partial phase")
    assert(!p.contains("Join"), s"unexpected join in the manifest plan:\n$p")
    assert(!p.contains("text"), "manifest scan reads the text column")
  }

  test("q_bpe_fertility joins the vocabulary, never the token stream") {
    // the corpus must collapse to (lang, word-type) counts BEFORE meeting
    // the trained type table: a partial aggregate sits under the join, so
    // what shuffles is vocabulary-sized — at 100 TB the join input is the
    // Zipf-bounded type table, not the corpus token stream
    val p = plan("q_bpe_fertility")
    assert(p.contains("partial_count"), "term counts have no partial phase")
    val joinPos = Seq(p.indexOf("SortMergeJoin"), p.indexOf("BroadcastHashJoin"),
      p.indexOf("ShuffledHashJoin")).filter(_ >= 0).minOption.getOrElse(-1)
    assert(joinPos >= 0, s"no equi-join with the type table:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_diversity_sample caps via one bucket window, no cartesian") {
    // after the (eagerly-trained) assignment, the cap is a single
    // row_number window partitioned by bucket — per-task sort input is
    // bucket-bounded, and nothing all-pairs ever appears
    val p = plan("q_diversity_sample")
    assert(p.contains("Window"), s"no window in the cap plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_hybrid_rrf: top-K'd arms, broadcast query vector, no cartesian") {
    // each arm must cut to its K=50 candidates with a TakeOrderedAndProject
    // BEFORE the rank window — the global-order windows then run over
    // config-bounded frames, so nothing corpus-sized reaches a single
    // partition; the query embedding reaches the scan as a broadcast
    // (1-row nested-loop is the crossJoin of a broadcast singleton)
    val p = plan("q_hybrid_rrf")
    assert(p.contains("TakeOrderedAndProject"),
      s"arms not top-K'd before ranking:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"query vector not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_rollup_incremental / q_approx_distinct_merge: broadcast cutoff") {
    // both incremental-refresh rows split the corpus at a 1-row
    // broadcast cutoff (never a driver-side collect), reduce each side
    // with map-side partials, and merge without anything all-pairs
    for (q <- Seq("q_rollup_incremental", "q_approx_distinct_merge")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"), s"$q cutoff not broadcast:\n$p")
      assert(p.contains("partial_"), s"$q has no partial phase:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("q_session_attrib: attribution via partial argmin, no third window") {
    // first/last touch must come from min_by/max_by AGGREGATES with
    // map-side partials over the session-index window output — a rank
    // window would sort a Zipf-heavy user's whole history on one task.
    // Since r19 the argmin is min_by(int rank, decimal packed key):
    // every buffer field is mutable, so the rollup must plan as a HASH
    // aggregate — a SortAggregate here means the string/struct buffer
    // regressed and the corpus is being per-partition sorted twice
    val p = plan("q_session_attrib")
    assert(p.contains("partial_min_by") && p.contains("partial_max_by"),
      s"attribution is not a partial argmin aggregate:\n$p")
    assert(!p.contains("SortAggregate"),
      s"argmin buffer is not hash-aggregable again:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_events_ohlc: OHLC argmin hash-aggregates on the packed key") {
    // open/close are min_by/max_by(value, decimal-packed (us, id)) —
    // with the r19 decimal key the buffer is fixed-width, so the one
    // (hr, type) rollup must HASH-aggregate with map-side partials; a
    // SortAggregate means the key regressed to the padded string and
    // both aggregation phases are sorting the events corpus
    val p = plan("q_events_ohlc")
    assert(p.contains("partial_min_by") && p.contains("partial_max_by"),
      s"OHLC is not a partial argmin aggregate:\n$p")
    assert(!p.contains("SortAggregate"),
      s"argmin buffer is not hash-aggregable:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_curriculum / q_rag_context: bounded frames after the corpus work") {
    // curriculum: the corpus-sized work is the quality scan; the ntile
    // runs once over its output and the stage rollup partial-aggregates.
    // rag: candidate arms are the only corpus scans (top-K'd), the greedy
    // and the budget window run over config-bounded frames; nothing
    // all-pairs appears in either plan
    val pc = plan("q_curriculum")
    assert(pc.contains("partial_"), s"stage rollup has no partial phase:\n$pc")
    assert(!pc.contains("CartesianProduct"), pc)
    // the rag FINAL plan starts past mmrSelect's checkpointed 5-row
    // frame (the candidate arms' TakeOrdered shape is q_hybrid_rrf's
    // pin, shared via fixedHybridFused) — what's left to hold here is
    // that the budget fill joins the token table by broadcast hash and
    // nothing all-pairs appears
    val pr = plan("q_rag_context")
    assert(pr.contains("BroadcastHashJoin"),
      s"budget fill does not broadcast the 5-row selection:\n$pr")
    assert(!pr.contains("CartesianProduct"), pr)
  }

  test("q_ann_ivf_recall: broadcast query panel, bucket-equi-join IVF arm") {
    // the exact arm meets the corpus as a broadcast query panel, the IVF
    // arm as an equi-join on the probed bucket; the hit reduction
    // partial-aggregates and nothing all-pairs appears
    val p = plan("q_ann_ivf_recall")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"query panel not broadcast:\n$p")
    assert(p.contains("partial_count"), "hit reduction has no partial phase")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dedup_span_cut: partial-agg cover sets, no all-pairs anywhere") {
    // covered positions must collapse via map-side partial collect_set
    // (bounded by doc length per key), the window-dup join is an
    // equi-join on the hash, and nothing all-pairs appears — the text
    // column itself only ever feeds codegen'd projections. The small dup
    // table broadcasts, and no bloom pre-filter is planned.
    val p = plan("q_dedup_span_cut")
    assert(p.contains("partial_collect_set"),
      s"cover set has no partial phase:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"all-pairs join appeared:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dup join not broadcast:\n$p")
    assert(!p.contains("might_contain"), s"bloom filter planned:\n$p")
  }

  // ---- iterative round bodies ----------------------------------------
  // The loops checkpoint every round, so a registered query's final plan
  // shows only a scan of the last checkpoint. These pins plan each round
  // body directly over frames materialized the way its loop does.

  test("pagerank round hash-builds the ranks; contrib reads exchange-free") {
    // prRound's SHUFFLE_HASH hint builds the O(V) ranks side, and contrib
    // — persisted after a repartition on src, as pagerank builds it —
    // keeps its hash partitioning through the cache: only ranks shuffles
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val edges = Seq(1 -> 2, 2 -> 3, 3 -> 4, 4 -> 1, 1 -> 3)
      .flatMap { case (a, b) => Seq(s"n$a" -> s"n$b", s"n$b" -> s"n$a") }
      .toDF("src", "dst").localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val contrib = edges.join(deg, "src")
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
        col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    contrib.count()
    val ranks = deg.select(col("src").as("node"), lit(1000000L).as("r"))
      .localCheckpoint()
    try {
      val round = operators.Graph.prRound(contrib, ranks)
      val joins = hashJoins(round)
      assert(joins.map(buildCols) == Seq(Set("src", "r")),
        s"round join is not hash-built on ranks:\n${explain(round)}")
      val streamed = joins.head.left // prRound's build side is its right
      assert(aqe.collect(streamed) { case e: ShuffleExchangeExec => e }.isEmpty
        && aqe.collect(streamed) { case t: InMemoryTableScanExec => t }
          .nonEmpty,
        s"contrib side is re-shuffled every round:\n${explain(round)}")
    } finally {
      contrib.unpersist()
      Seq(edges, ranks).foreach(operators.Materialize.free)
    }
  }

  test("CC, star and LPA rounds hash-build on the O(V) frame") {
    // each hinted round join builds the labels / min-neighbour side, never
    // the edge side that grows with |E| (a sort-merge join would re-sort
    // the edge frame every round)
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val pairs = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 10L -> 11L, 11L -> 12L)
      .toDF("a_id", "b_id")
    val edges = operators.Dedup.ccEdges(pairs).localCheckpoint()
    val labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    val cc = operators.Dedup.ccRound(edges, labels)
    assert(hashJoins(cc).map(buildCols) == Seq(Set("dst", "dst_label")),
      s"ccRound is not hash-built on the labels:\n${explain(cc)}")
    val canon = pairs.select(greatest(col("a_id"), col("b_id")).as("hi"),
      least(col("a_id"), col("b_id")).as("lo")).localCheckpoint()
    // the lazy round plan repeats the large-star subtree, so count
    // nothing: every join of both halves must be hash-built on (u, m)
    val star = operators.Dedup.starRound(canon)
    val starJoins = aqe.collect(star.queryExecution.executedPlan) {
      case j: BaseJoinExec => j
    }
    assert(starJoins.nonEmpty && starJoins.forall {
        case j: ShuffledHashJoinExec => buildCols(j) == Set("u", "m")
        case _ => false
      }, s"a starRound half is not hash-built on min-neighbour:\n" +
        explain(star))
    val nodes = labels.select(col("id").as("v"))
    val adj = pairs.select(col("a_id").as("v"), col("b_id").as("u"))
      .unionByName(pairs.select(col("b_id").as("v"), col("a_id").as("u")))
      .unionByName(nodes.select(col("v"), col("v").as("u")))
    val lpa = operators.Dedup.lpaRound(adj,
      nodes.select(col("v"), col("v").as("lbl")))
    assert(hashJoins(lpa).map(buildCols) == Seq(Set("u", "u_lbl")),
      s"lpaRound is not hash-built on the labels:\n${explain(lpa)}")
    Seq(edges, labels, canon).foreach(operators.Materialize.free)
  }

  test("ccEdges reads the materialized pairs: the pair subtree runs once") {
    // connectedComponents materializes the pair frame before ccEdges'
    // union reads it twice; over a lazy frame each union branch would
    // re-run the pair subtree (at corpus scale, the LSH verify joins)
    val s = spark
    import org.apache.spark.sql.functions._
    val evals = s.sparkContext.longAccumulator("pair-evals")
    val seen = udf { (x: Long) => evals.add(1); x }.asNondeterministic()
    val pairs = s.range(0, 20)
      .select(seen(col("id")).as("a_id"), (col("id") + 1).as("b_id"))
    val labels = operators.Dedup.connectedComponents(pairs).collect()
    assert(labels.length == 21 && labels.forall(_.getLong(1) == 0L))
    assert(evals.value == 20L,
      s"pair subtree evaluated ${evals.value} times for 20 pairs")
  }

  test("pqTrainRound plans no SortAggregate") {
    // the argmin is a per-row array expression and the (sub, code) rollup
    // keeps fixed-width long-sum buffers: nothing sorts the exploded corpus
    val s = spark
    import org.apache.spark.sql.functions.col
    val e = operators.Similarity.dropZeroNorm(s,
      Tables(s, sfDir, "embeddings").select(col("vec_id"), col("embedding")))
    val sv = operators.Similarity
      .pqSubs(e, "vec_id", "embedding", 8, 8, "sv").localCheckpoint()
    val seed = operators.Similarity.pqCodebook(s, e, 8, 8, 8)
      .localCheckpoint()
    val p = explain(operators.Similarity.pqTrainRound(s, sv, seed, 8))
    assert(!p.contains("SortAggregate"), s"training round sorts:\n$p")
    assert(p.contains("HashAggregate"), s"rollup is not hash-aggregated:\n$p")
    Seq(sv, seed).foreach(operators.Materialize.free)
  }

  test("pcaPowerRound chains linearly: Exchanges grow by a constant") {
    // each round references its predecessor once, so an n-round lazy
    // chain (q_pca_power's 10 rounds run as one action) has a plan linear
    // in n; a second reference would double the plan every round
    val s = spark
    import org.apache.spark.sql.functions._
    val idx = s.range(1, 5).select(col("id").as("i"))
    val covF = idx.crossJoin(idx.select(col("i").as("j")))
      .select(col("i"), col("j"),
        (when(col("i") === col("j"), lit(4000000L)).otherwise(lit(1000000L)))
          .as("cov_micros"))
      .localCheckpoint()
    val v0 = idx.select(col("i").as("j"), lit(125000L).as("xm"))
    def exchanges(n: Int): Int = {
      val v = (1 to n).foldLeft(v0)((v, _) =>
        operators.Similarity.pcaPowerRound(s, covF, v))
      aqe.collect(v.queryExecution.executedPlan) { case e: Exchange => e }
        .size
    }
    val counts = (1 to 4).map(exchanges)
    val steps = counts.zip(counts.tail).map { case (a, b) => b - a }
    assert(steps.forall(_ == steps.head) && steps.head > 0,
      s"Exchange count per chain length 1..4 is not linear: $counts")
    operators.Materialize.free(covF)
  }

  test("q_domain_mix collapses the corpus at the scan") {
    // the only corpus-sized work is one partial-aggregated (source, lang)
    // rollup; the ppm/allocation arithmetic runs on the #domains-row
    // frame against a broadcast 1-row normalizer
    val p = plan("q_domain_mix")
    assert(p.contains("partial_"), s"domain rollup has no partial phase:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_join_asof_nearest: one key shuffle feeds both direction windows") {
    // the union shuffles ONCE on user_id; the backward and forward
    // windows both consume that exchange (each adds only a sort), and
    // nothing joins all-pairs — the property that makes nearest-match
    // cost independent of tolerance at 100 TB
    val p = plan("q_join_asof_nearest")
    val keyShuffles = "hashpartitioning\\(user_id".r
      .findAllIn(p).size
    assert(keyShuffles == 1, s"expected exactly 1 key shuffle, got $keyShuffles:\n$p")
    assert("\\bWindow\\b".r.findAllIn(p).size >= 2, s"missing a direction window:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"all-pairs join appeared:\n$p")
  }

  test("q_hybrid_rrf_batch: broadcast query batch, per-query rank windows") {
    // the batch kernel replaces the fixed row's global top-K with windows
    // PARTITIONED BY q_id — adding queries adds partitions, never scans —
    // and the whole query batch (terms + vectors) reaches the corpus
    // scans as broadcasts; nothing all-pairs appears, and the BM25
    // reductions keep their map-side partial phase
    val p = plan("q_hybrid_rrf_batch")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"query batch not broadcast:\n$p")
    assert(p.contains("Window"), s"no per-query rank window:\n$p")
    assert(p.contains("partial_"), "BM25 reduction has no partial phase")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_rank_eval broadcasts the query set and partial-aggregates") {
    // the corpus meets the 10-query set as a broadcast (one scan, no
    // shuffle of the corpus for candidate generation); the per-query
    // reduction does map-side partial aggregation
    val p = plan("q_rank_eval")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"query set not broadcast:\n$p")
    assert(p.contains("partial_"), "eval reduction has no partial phase")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dedup_quality_rep picks reps via partial max_by, not a window") {
    // the representative is an argmax AGGREGATE over (quality, −doc_id):
    // map-side partials mean a Zipf-giant cluster contributes one row
    // per task, where a per-cluster rank window would sort the whole
    // cluster on one task
    val p = plan("q_dedup_quality_rep")
    assert(p.contains("partial_max_by"),
      s"rep selection is not a partial max_by aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_ann_index_stats: broadcast centroids, partial-aggregated report") {
    // the trained k-row centroid frame joins the corpus as a broadcast
    // (one scan computes every member's centroid cosine) and the k-row
    // report aggregates with map-side partials
    val p = plan("q_ann_index_stats")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), s"centroids not broadcast:\n$p")
    assert(p.contains("partial_"), "report agg has no partial phase")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_events_anomaly: partial hourly rollup, broadcast stats") {
    // the corpus-sized work is ONE partial-aggregated rollup on (type,
    // hour); the median/MAD frames are rollup-sized and join back as
    // broadcasts so the flagging pass never shuffles the rollup again
    val p = plan("q_events_anomaly")
    assert(p.contains("partial_count"), "hourly rollup has no partial phase")
    assert(p.contains("BroadcastHashJoin"), s"stats not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_data_contract folds checks into scans, report is rule-sized") {
    // every expectation is a count + conditional sum folded into its
    // table scan (partial-aggregated — no row dump reaches the union);
    // the referential rule joins, nothing goes cartesian
    val p = plan("q_data_contract")
    assert(p.contains("partial_"), "contract checks have no partial phase")
    assert(p.contains("Union"), s"rule report is not a union:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_vocab_coverage cuts to the head before the cumulative window") {
    // corpus-sized work is the partial-aggregated type table; the top-50
    // cut is a TakeOrderedAndProject so the cumulative window runs over
    // a config-bounded frame, never the vocabulary
    // (the type table itself is behind a localCheckpoint boundary — its
    // partial-aggregated shape is q_wordcount's, pinned above)
    val p = plan("q_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"head cut is a full sort:\n$p")
    assert(p.contains("partial_sum"), "total agg has no partial phase")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_triplet_sample: broadcast anchors, per-anchor aggregate arms") {
    // both arms reduce the corpus scan per anchor with max_by/min_by
    // aggregates (map-side partials) — no corpus-sized window sort, no
    // cartesian; anchors reach the scans as broadcasts. The stratum arm
    // must keep the identical shape (it only restricts the negative
    // candidate scan) AND evaluate the hash-stratum predicate as a scan
    // filter BEFORE the join, not after.
    for (q <- Seq("q_triplet_sample", "q_triplet_stratum")) {
      val p = plan(q)
      assert(p.contains("partial_max_by") || p.contains("partial_min_by"),
        s"$q arms are not partial argmax aggregates:\n$p")
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"), s"$q anchors not broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
    // the stratum predicate must run as a Filter on the candidate scan
    // (below the join in the printed tree), not as a join condition —
    // that's what bounds the scanned candidate set at scale
    val p = plan("q_triplet_stratum")
    val filterLine = p.linesIterator
      .find(l => l.contains("Filter") && l.contains("substring(md5("))
    assert(filterLine.nonEmpty, s"stratum predicate is not a scan filter:\n$p")
  }

  test("q_sample_hash scans only the projected columns") {
    val p = plan("q_sample_hash")
    // the md5 filter is compute-on-read (not parquet-pushable), but the
    // scan must not read text/source for a (doc_id, lang, n_chars) output
    assert(!p.contains("text"), "sample scan reads the text column")
  }

  test("q_partitioned_roundtrip prunes partitions at the scan") {
    val p = plan("q_partitioned_roundtrip")
    // the event_type predicate must land in PartitionFilters (directory
    // pruning), not as a post-scan data filter
    assert(p.contains("PartitionFilters: ["), p)
    val pf = p.linesIterator.find(_.contains("PartitionFilters: ")).get
    assert(pf.contains("event_type"), s"partition filter not pruned: $pf")
  }

  test("co-bucketed tables join with zero Exchange on either side") {
    // The q_bucketed_join storage contract: both tables were written
    // bucketBy(8, custkey), so the planner must satisfy the join's
    // distribution requirement from the bucket layout alone — any
    // Exchange in the final plan means the write-time shuffle is being
    // paid AGAIN on read, which is the whole thing bucketing exists to
    // avoid. Broadcast is disabled so the join cannot sidestep the
    // question (at 100 TB neither fact side broadcasts anyway).
    val s = spark
    val (o, c) = operators.Joins.bucketedOrdersCustomer(s, sfDir)
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = o.join(c, o("o_custkey") === c("c_custkey"))
      df.collect() // finalize any adaptive re-planning before reading it
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a merge join:\n$p")
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE splits a skewed join partition at runtime") {
    // The runtime complement to plans/Salt.scala: when one key dominates a
    // shuffle, AQE's skew-join mitigation splits the oversized partition
    // into advisory-sized chunks (replicating the matching build rows)
    // instead of funneling it through one task. Pin that it actually
    // fires, so a conf regression can't silently bring back the straggler.
    // Thresholds are shrunk to test scale; detection rule is unchanged:
    // size > max(thresholdInBytes, factor * median partition size).
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val old = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      // one hot key carrying ~98% of the rows (with padding so the skewed
      // partition's bytes dwarf the median), plus a uniform tail
      val big = s.range(0, 50000).select(
        when($"id" < 49000, lit(0L)).otherwise($"id" % 997).as("k"),
        lpad($"id".cast("string"), 100, "0").as("pad"))
      val small = s.range(0, 1000).select($"id".as("k"), ($"id" * 2).as("v"))
      val joined = big.join(small, "k")
      // collect() executes joined's OWN QueryExecution (a .count() would
      // build a different one and leave this plan unfinalized)
      assert(joined.collect().length == 50000)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), s"AQE did not finalize:\n$p")
      assert(p.contains("skew=true"), s"skew mitigation did not fire:\n$p")
    } finally old.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  test("cosinePairs is collect-free and size-dispatched") {
    val s = spark
    import org.apache.spark.sql.functions.col
    val e = Tables(s, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // under the threshold: Spark-managed broadcast nested-loop join
    val small = operators.Similarity.cosinePairs(s, e, 0.45)
      .queryExecution.executedPlan.toString
    assert(small.contains("BroadcastNestedLoopJoin"),
      "small corpus should broadcast via BNLJ")
    // over the threshold: the blocked GEMM (an RDD scan, no broadcast)
    val big = operators.Similarity
      .cosinePairs(s, e, 0.45, maxBroadcastBytes = 0)
      .queryExecution.executedPlan.toString
    assert(!big.contains("BroadcastNestedLoopJoin") &&
      big.contains("SerializeFromObject"),
      "oversized corpus should dispatch to blockedCosineJoin")
  }

  test("q_repetition_filter is join-free: one explode, two-level agg") {
    // dup3_frac is a per-row HOF (array_distinct over the 3-gram list)
    // riding the token explode as a grouping constant — the row must
    // plan as ONE scan with NO join: a second explode branch joined on
    // doc_id (the naive formulation) costs a third exchange plus an SMJ
    // of two full per-doc frames at corpus scale.
    val p = plan("q_repetition_filter")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("BroadcastHashJoin"),
      s"q_repetition_filter plans a join:\n$p")
    assert(p.contains("Generate explode"), "token explode missing")
    assert(p.contains("partial_count") || p.contains("partial count"),
      "token counts not partially aggregated map-side")
  }
}
