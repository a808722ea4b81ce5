package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.functions._

/** Scale-stress harness (the empirical evidence behind the 100 TB scale
  * claims): synthesize a `copies`× corpus from sf0.1 by shifted-key
  * self-union — copy k of doc/vec d gets id `d + k·off` — and run the
  * flagship dedup/ANN/CC paths on it with per-query wall time, peak task
  * memory, shuffle write, and spill from a task-metrics listener.
  *
  * No DuckDB oracle runs at this scale. Instead the construction gives
  * EXACT invariants: identical copies have jac/cos = 1, text and
  * embeddings are unchanged, and ids in copy 0 are the smallest — so the
  * stress near-dup graph is precisely the ×copies "blow-up" of the sf0.1
  * graph (edge (x+i·off, y+j·off) iff edge (x,y) or x = y), every stress
  * component is an sf0.1 component × copies, and its min-label is the
  * sf0.1 label. Each query's full output is therefore derivable from its
  * own sf0.1 run, and the harness asserts that derivation EXACTLY
  * (set-equality via except, both directions) — the same bar as the
  * oracle gate, at 10× the data. Centroid paths stay exact because
  * duplicated members scale the fixed-point micro sums and counts by the
  * same factor, leaving every mean (and so every Lloyd round) unchanged.
  *
  * Also asserts survivor-set idempotence: the kept representatives of
  * the near-dup clustering contain no near-dup pair at all (one rep per
  * component ⇒ rerunning the pair scan on them returns zero rows).
  *
  * args: [srcDir=/root/testdata/sf0.1] [copies=10] [workDir=/tmp/graft_stress]
  * Exits nonzero if any invariant fails.
  */
object StressMain {

  private val peak = new AtomicLong
  private val shuf = new AtomicLong
  private val spill = new AtomicLong
  private val tasks = new AtomicLong
  private var failures = 0

  private def resetMetrics(): Unit = {
    peak.set(0); shuf.set(0); spill.set(0); tasks.set(0)
  }

  /** The listener bus is ASYNCHRONOUS: tail onTaskEnd events for the job
    * that just finished may still be queued when the write action
    * returns. Poll until the counters hold still across a 50 ms window
    * (2 s cap) before reading them — otherwise a row undercounts its
    * query and the next resetMetrics() races the stragglers, bleeding
    * their bytes into the NEXT query's totals. */
  private def drainMetrics(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    var prev = (-1L, -1L, -1L, -1L)
    var cur = (peak.get, shuf.get, spill.get, tasks.get)
    while (prev != cur && System.nanoTime() < deadline) {
      Thread.sleep(50)
      prev = cur
      cur = (peak.get, shuf.get, spill.get, tasks.get)
    }
  }

  private def mb(v: Long): Long = v >> 20

  /** Time the full plan and print one metrics row. `df` is BY-NAME:
    * several queries (clusters_star, embed_ivf) run their iterative
    * heavy lifting eagerly during DataFrame CONSTRUCTION
    * (localCheckpoint rounds), so evaluating the argument before `t0`
    * would time only the final cheap projection. Unlike Bench's noop
    * convention this WRITES the result to `outDir` parquet — the
    * invariant checks below read it back, so each stress query computes
    * exactly once instead of once per assertion; result sets are tiny
    * next to the compute they time, so the write cost is noise. */
  /** Returns the query's (peak task memory, shuffle bytes written, wall
    * seconds) so invariants can compare memory, shuffle, and wall SHAPES
    * across runs, not just outputs. */
  private def timed(name: String, outDir: String,
      df: => DataFrame): (Long, Long, Double) = {
    resetMetrics()
    val t0 = System.nanoTime()
    df.write.mode("overwrite").parquet(s"$outDir/$name")
    val s = (System.nanoTime() - t0) / 1e9
    drainMetrics()
    println(f"STRESS| $name%-22s ${s}%7.2f s  peakTask ${mb(peak.get)}%5d MB" +
      f"  shufW ${mb(shuf.get)}%5d MB  spill ${mb(spill.get)}%5d MB")
    (peak.get, shuf.get, s)
  }

  private def check(name: String, ok: Boolean, detail: => String): Unit =
    if (ok) println(s"STRESS| invariant ok: $name")
    else { failures += 1; println(s"STRESS| INVARIANT FAILED: $name — $detail") }

  /** ≥×10000 tiers compare via a commutative digest instead of exceptAll
    * (set in main): the r15 ×10000 run learned mid-flight that exceptAll's
    * ~30 GB of compare shuffle — not the workload — is what fills the disk
    * at 1B rows. Promoted to a tier-conditional default so the next
    * decade run doesn't re-learn it (r15 verdict item 4). */
  private var digestCompare = false

  /** Exact set equality of two frames (same schema), both directions —
    * the form of record at ≤×1000. At the digest tier: count + two
    * differently-seeded xxhash64 sums + a third-seed bit_xor per side,
    * one scan each, order-insensitive; an accidental multiset collision
    * needs simultaneous agreement of all four aggregates. */
  private def sameSet(name: String, got: DataFrame, want: DataFrame): Unit =
    if (digestCompare) {
      def dig(df: DataFrame) = {
        val cs = df.columns.toSeq.map(col)
        val names = df.columns.map(c => s"`$c`").mkString(", ")
        df.agg(
          count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(xxhash64(cs: _*).cast("decimal(38,0)")).as("s1"),
          sum(xxhash64(lit(1069L) +: cs: _*).cast("decimal(38,0)")).as("s2"),
          expr(s"bit_xor(xxhash64(2069L, $names))").as("x1")).head
      }
      val g = dig(got)
      val w = dig(want)
      check(s"$name [digest compare, ≥×10000 tier]", g == w,
        s"digest $g != $w")
    } else {
      val extra = got.exceptAll(want).count()
      val missing = want.exceptAll(got).count()
      check(name, extra == 0 && missing == 0,
        s"$extra unexpected rows, $missing missing rows")
    }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val copies = if (args.length > 1) args(1).toInt else 10
    val work = if (args.length > 2) args(2) else "/tmp/graft_stress"
    val mode = if (args.length > 3) args(3) else "full"
    if (mode == "streamkill2") {
      // DOUBLE-crash exactly-once at scale (r12): hard kill mid-drain,
      // then a SECOND hard kill during the recovery drain itself (the
      // replay of the cut batch may be in flight), then a final resume —
      // the sink must still equal the batch twin. Each phase forks its
      // own JVM; the checkpoint + sink pair absorbs both crashes.
      val killed = ForkedJvm.run("graft.StreamKillMain", "12g",
        Seq(src, work, "kill", copies.toString))
      check(s"kill phase halted mid-drain at ×$copies (exit 42)",
        killed == 42, s"kill phase exited $killed")
      val killed2 = ForkedJvm.run("graft.StreamKillMain", "12g",
        Seq(src, work, "resumekill", copies.toString))
      check(s"second kill halted mid-RECOVERY at ×$copies (exit 42)",
        killed2 == 42, s"resumekill phase exited $killed2")
      val resumed = ForkedJvm.run("graft.StreamKillMain", "12g",
        Seq(src, work, "resume", copies.toString))
      check(s"double-crash resume exactly-once at ×$copies (sink == batch twin)",
        resumed == 0, s"resume phase exited $resumed")
      if (failures > 0) {
        System.err.println(s"STRESS| $failures invariant(s) failed")
        sys.exit(1)
      }
      println("STRESS| all invariants passed")
      return
    }
    if (mode == "streamkill") {
      // crash-grade exactly-once AT SCALE: the StreamingSpec hard-kill
      // proof (Runtime.halt mid-drain, checkpoint resume, sink == batch
      // twin) re-run against the ×copies corpus — both phases fork their
      // own JVMs (the halt must not take this one down), so no session is
      // built here. Composes the two previously-separate proofs the r11
      // advisor noted weren't run together: clean-stop restart at ×100
      // (mode=stream) and hard kill at unit scale.
      val killed = ForkedJvm.run("graft.StreamKillMain", "12g",
        Seq(src, work, "kill", copies.toString))
      check(s"kill phase halted mid-drain at ×$copies (exit 42)",
        killed == 42, s"kill phase exited $killed")
      val resumed = ForkedJvm.run("graft.StreamKillMain", "12g",
        Seq(src, work, "resume", copies.toString))
      check(s"hard-kill resume exactly-once at ×$copies (sink == batch twin)",
        resumed == 0, s"resume phase exited $resumed")
      if (failures > 0) {
        System.err.println(s"STRESS| $failures invariant(s) failed")
        sys.exit(1)
      }
      println("STRESS| all invariants passed")
      return
    }
    digestCompare = copies >= 10000
    if (digestCompare)
      println("STRESS| compare form: commutative digest (≥×10000 tier)")
    // long-drain phases run inside THIS JVM: bound dead-shuffle residency
    // the way the forked StreamKillMain already does — a multi-batch drain
    // can finish without a single full GC, stranding every batch's shuffle
    // files until the ContextCleaner sees the dependency collected
    // (measured at ×10000: 42 GB of dead shuffle filled the disk mid-drain)
    val drainMode = mode == "stream" || mode == "corpusstream" ||
      mode == "annstream"
    val spark = Bench.benchSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      if (drainMode) Map("spark.cleaner.periodicGC.interval" -> "60s")
      // graph tiers ≥×300: P must scale with the corpus (the design
      // contract every operator documents — a real cluster's partition
      // count grows with its input). local[32]'s fixed 32 partitions
      // concentrate per-task aggregate/join state over V≈16.5k·copies
      // graph keys until a 353M-edge tier OOMs the task quota
      // (measured: ×300 AGGREGATE_OUT_OF_MEMORY at 32g AND 64g heaps);
      // 4× the partitions → 1/4 the per-task state, run in waves.
      else if (mode == "graph" && copies >= 300) Map(
        "spark.sql.shuffle.partitions" -> "128",
        "spark.sql.files.maxPartitionBytes" -> "33554432")
      else Map.empty)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          peak.getAndAccumulate(m.peakExecutionMemory, math.max(_, _))
          shuf.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spill.addAndGet(m.memoryBytesSpilled)
        }
        tasks.incrementAndGet()
      }
    })
    if (mode == "text" || mode == "embed" || mode == "events" ||
        mode == "stream" || mode == "embeddim" || mode == "corpusstream" ||
        mode == "prefix" || mode == "incr" || mode == "annstream" ||
        mode == "profile" || mode == "graph") {
      if (mode == "text") textStress(spark, src, copies, work,
        if (args.length > 4) args(4) else "all")
      else if (mode == "prefix") prefixStress(spark, src, copies, work)
      else if (mode == "incr") incrDedupStress(spark, src, copies, work)
      else if (mode == "profile") profileStress(spark, src, copies, work)
      else if (mode == "graph") graphStress(spark, src, copies, work)
      else if (mode == "annstream")
        annStreamStress(spark, src, copies, work,
          if (args.length > 4) args(4).toInt else 16)
      else if (mode == "embed") embedStress(spark, src, copies, work)
      else if (mode == "embeddim") embedDimStress(spark, src, copies, work,
        if (args.length > 4) args(4).toInt else 16,
        args.length > 5 && args(5) == "skipgemm")
      else if (mode == "events") eventsStress(spark, src, copies, work)
      else if (mode == "corpusstream")
        corpusStreamStress(spark, src, copies, work,
          if (args.length > 4) args(4).toInt else 6)
      else streamStress(spark, src, copies, work)
      spark.stop()
      if (failures > 0) {
        System.err.println(s"STRESS| $failures invariant(s) failed")
        sys.exit(1)
      }
      println("STRESS| all invariants passed")
      return
    }

    // ---- build the blown-up corpus ---------------------------------------
    val docs0 = spark.read.parquet(s"$src/documents.parquet")
    val embs0 = spark.read.parquet(s"$src/embeddings.parquet")
    val dOff = docs0.agg(max("doc_id")).head.getLong(0) + 1
    val vOff = embs0.agg(max("vec_id")).head.getLong(0) + 1
    val nDocs = docs0.count()
    val nVecs = embs0.count()
    (0 until copies).map(k =>
        docs0.withColumn("doc_id", col("doc_id") + lit(k * dOff)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    (0 until copies).map(k =>
        embs0.withColumn("vec_id", col("vec_id") + lit(k * vOff)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
    println(s"STRESS| corpus: ${nDocs * copies} docs, ${nVecs * copies} " +
      s"vectors ($copies× $src) at $work")

    def q(name: String, dir: String): DataFrame =
      SparkEntry.queries(name)(spark, dir)

    // ---- timed stress runs ----------------------------------------------
    val names = Seq("q_dedup_exact", "q_dedup_minhash",
      "q_dedup_clusters_star", "q_dedup_embed_ivf", "q_substring_dup",
      "q_knn_join", "q_cosine_pairs_gemm")
    val peaks = names.map(n => n -> timed(n, s"$work/out", q(n, work))._1)
      .toMap
    // the kNN scale CONTRACT made empirical: q_knn_join's oracle pins 8
    // buckets, so at ×copies its per-task memory grows linearly (each
    // task ranks ~n/8 vectors) — the operator's contract says buckets
    // grow WITH the corpus. Run the same operator with 8×copies buckets:
    // bucket occupancy matches the sf0.1 run's, so peak task memory must
    // fall back to the flat per-bucket level.
    val scaledPeak = timed("q_knn_join_scaledk", s"$work/out",
      operators.Similarity.knnJoin(spark,
        spark.read.parquet(s"$work/embeddings.parquet")
          .select(col("vec_id"), col("embedding")), 3, 8 * copies))._1
    // materialized stress outputs — every invariant below reads these
    // instead of re-running the query it just timed
    def out(name: String): DataFrame =
      spark.read.parquet(s"$work/out/$name")

    // ---- invariants vs the sf0.1 run ------------------------------------
    // exact dedup: same hash families, counts ×copies, survivor in copy 0
    sameSet("q_dedup_exact = sf0.1 families ×copies",
      out("q_dedup_exact").select("keep_id", "n_copies"),
      q("q_dedup_exact", src).select(col("keep_id"),
        (col("n_copies") * copies).as("n_copies")))

    // minhash pairs: mapped to copy-0 ids they are exactly the sf0.1
    // pairs plus one (d, d, 1.0) witness per banded doc (the copies)
    val origPairs = q("q_dedup_minhash", src)
    val famPairs = docs0
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id").as("a_id"), col("doc_id").as("b_id"),
        lit(1.0).as("jac"))
    sameSet("q_dedup_minhash = blow-up of sf0.1 pairs",
      out("q_dedup_minhash").select(
        least(col("a_id") % dOff, col("b_id") % dOff).as("a_id"),
        greatest(col("a_id") % dOff, col("b_id") % dOff).as("b_id"),
        col("jac")).distinct(),
      origPairs.unionByName(famPairs))

    // CC on the blow-up graph: every copy of doc d labels to d's sf0.1
    // label (component min lives in copy 0) — label = component min at
    // 10× scale, checked exactly; docs absent from the sf0.1 output
    // (singletons there) cluster with their own copies under label d
    val origLabels = q("q_dedup_clusters_star", src)
      .select(col("doc_id"), col("cluster_id"))
    val banded = docs0.filter(size(split(col("text"), " ")) >= 3)
      .select("doc_id")
    val expectLabel = banded.join(origLabels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val copyIdx = spark.range(copies).select(col("id").as("k"))
    val expectCc = expectLabel.crossJoin(copyIdx)
      .select((col("doc_id") + col("k") * dOff).as("doc_id"),
        col("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
    sameSet("q_dedup_clusters_star = sf0.1 components ×copies",
      out("q_dedup_clusters_star"), expectCc)

    // survivor idempotence: one representative per component ⇒ the pair
    // scan over the kept set alone finds nothing
    val kept = out("q_dedup_clusters_star")
      .filter(col("keep")).select("doc_id")
    spark.read.parquet(s"$work/documents.parquet")
      .join(kept, Seq("doc_id"), "left_semi")
      .write.mode("overwrite").parquet(s"$work/kept/documents.parquet")
    check("survivor set has zero near-dup pairs",
      q("q_dedup_minhash", s"$work/kept").count() == 0, "pairs remained")

    // IVF semantic dedup: duplicated members leave every centroid mean
    // bit-identical, copies share buckets, so components expand the same
    // way — full-output equality against the sf0.1 run's expansion
    val origIvf = q("q_dedup_embed_ivf", src)
      .select(col("vec_id"), col("cluster_id"))
    val expectIvf = origIvf.crossJoin(copyIdx)
      .select((col("vec_id") + col("k") * vOff).as("vec_id"),
        col("cluster_id"))
      .withColumn("keep", col("vec_id") === col("cluster_id"))
    sameSet("q_dedup_embed_ivf = sf0.1 components ×copies",
      out("q_dedup_embed_ivf"), expectIvf)

    // substring dedup: copies make every window cross-doc duplicated
    val subDup = out("q_substring_dup")
    val origSub = q("q_substring_dup", src)
    check("q_substring_dup: every doc fully duplicated",
      subDup.filter(col("dup_fraction") =!= 1.0).count() == 0,
      "docs with dup_fraction < 1 exist")
    sameSet("q_substring_dup window counts preserved per copy",
      subDup.select((col("doc_id") % dOff).as("doc_id"), col("n_windows"))
        .distinct(),
      origSub.select("doc_id", "n_windows"))

    // kNN join: 3 rows per vector the query actually ranks (it drops
    // zero-norm vectors — count with the same predicate, not raw corpus
    // size); rank-1 neighbor is always an identical copy in the same
    // bucket (cos exactly 1.0)
    val nRanked = operators.Similarity.dropZeroNorm(spark, embs0).count()
    val knn = out("q_knn_join")
    check("q_knn_join row count = 3 × nonzero-norm corpus",
      knn.count() == 3L * nRanked * copies, s"got ${knn.count()}")
    check("q_knn_join rank-1 = identical copy (cos 1.0)",
      knn.filter(col("rk") === 1).agg(min("cos")).head.getDouble(0) == 1.0,
      "a rank-1 neighbor below 1.0")

    // scaled-buckets kNN: same correctness laws (identical copies share a
    // bucket under the deterministic assignment, so rank-1 is still an
    // exact copy and every ranked vector fills its k slots) AND the
    // memory law the contract promises: with buckets grown ∝ corpus,
    // per-task memory collapses from O(n/8) back to the per-bucket level
    val knnS = out("q_knn_join_scaledk")
    check("scaled-k kNN row count = 3 × nonzero-norm corpus",
      knnS.count() == 3L * nRanked * copies, s"got ${knnS.count()}")
    check("scaled-k kNN rank-1 = identical copy (cos 1.0)",
      knnS.filter(col("rk") === 1).agg(min("cos")).head.getDouble(0) == 1.0,
      "a rank-1 neighbor below 1.0")
    // ≤ ¾ rather than 1/copies: Spark quantizes peakExecutionMemory to
    // page-sized steps, so the observable collapse at small `copies` is
    // coarser than the n/8 → n/(8·copies) arithmetic (at 2× the measured
    // ratio is ~0.51; at 10× it is ~0.1) — ¾ still only passes when the
    // scaled run genuinely drops back toward the per-bucket level
    check("scaled-k kNN collapses peak task memory (≤ ¾ of fixed-k)",
      scaledPeak <= peaks("q_knn_join") * 3 / 4,
      s"scaled ${mb(scaledPeak)} MB vs fixed ${mb(peaks("q_knn_join"))} MB")

    // blocked GEMM: same mapped-set law as minhash, against the sf0.1
    // broadcast-arm run — the two arms are bit-identical, so this also
    // cross-checks the forced 8-block grid at 10× the vectors
    val origCos = q("q_cosine_pairs", src)
    // the join drops zero-norm vectors (no defined cosine), so their
    // copies produce NO self-pairs — build the expected witnesses under
    // the same predicate, exactly as nRanked does for kNN above
    val famCos = operators.Similarity.dropZeroNorm(spark, embs0)
      .select(col("vec_id").as("a_id"),
        col("vec_id").as("b_id"), lit(1.0).as("cos"))
    sameSet("q_cosine_pairs_gemm = blow-up of sf0.1 pairs",
      out("q_cosine_pairs_gemm").select(
        least(col("a_id") % vOff, col("b_id") % vOff).as("a_id"),
        greatest(col("a_id") % vOff, col("b_id") % vOff).as("b_id"),
        col("cos")).distinct(),
      origCos.unionByName(famCos))

    // ---- new-op invariants at ×copies ------------------------------------
    // Covariance/PCA: duplicating every vector ×copies changes NEITHER the
    // per-dimension means NOR the population covariance (sums and counts
    // scale by the same factor), so the stress output must be IDENTICAL to
    // the sf0.1 run — the strongest possible invariant, checked exactly.
    // Power iteration consumes only that matrix, so it inherits equality.
    timed("q_pca_cov", s"$work/out", q("q_pca_cov", work))
    sameSet("q_pca_cov invariant under corpus duplication",
      out("q_pca_cov"), q("q_pca_cov", src))
    timed("q_pca_power", s"$work/out", q("q_pca_power", work))
    sameSet("q_pca_power invariant under corpus duplication",
      out("q_pca_power"), q("q_pca_power", src))
    // BPE: word-type counts scale ×copies uniformly, so the learned merge
    // list is identical with counts ×copies.
    timed("q_bpe_merges", s"$work/out", q("q_bpe_merges", work))
    sameSet("q_bpe_merges = sf0.1 merges with counts ×copies",
      out("q_bpe_merges").select(col("rank"), col("l"), col("r"),
        (col("n") / copies).cast("long").as("n")),
      q("q_bpe_merges", src))
    // Phrase search: every copy of doc d matches exactly like d.
    timed("q_phrase_search", s"$work/out", q("q_phrase_search", work))
    sameSet("q_phrase_search = sf0.1 matches ×copies",
      out("q_phrase_search").select((col("doc_id") % dOff).as("doc_id"),
        col("n_matches"), col("first_i")).distinct(),
      q("q_phrase_search", src))

    // Inverted index: doc ids shift per copy so the postings hash differs,
    // but document/collection frequencies scale exactly ×copies per term —
    // and the sharded arm must agree with the unsharded one at 10× too.
    timed("q_inverted_index", s"$work/out", q("q_inverted_index", work))
    timed("q_inverted_index_shard", s"$work/out",
      q("q_inverted_index_shard", work))
    sameSet("q_inverted_index df/cf = sf0.1 ×copies",
      out("q_inverted_index").select(col("term"),
        (col("df") / copies).cast("long").as("df"),
        (col("cf") / copies).cast("long").as("cf")),
      q("q_inverted_index", src).select(col("term"), col("df"), col("cf")))
    sameSet("sharded index = unsharded index at ×copies",
      out("q_inverted_index_shard"), out("q_inverted_index"))

    // ---- events: batch sessionize + watermarked stream at ×copies --------
    // Blow-up: copy k of user u is user u + k·uOff with event_ids shifted
    // by k·eOff and ts UNCHANGED — a monotone event_id shift preserves the
    // (ts, event_id) tiebreak order inside each copy, so every user copy
    // sessionizes exactly like its sf0.1 original: the stress output
    // mapped through user_id % uOff must BE the sf0.1 output (set-exact),
    // with copies× the row count.
    val ev0 = Tables(spark, src, "events")
    val uOff = ev0.agg(max("user_id")).head.getLong(0) + 1
    val eOff = ev0.agg(max("event_id")).head.getLong(0) + 1
    val nEv = ev0.count()
    val nUsers = ev0.select("user_id").distinct().count()
    (0 until copies).map(k => ev0
        .withColumn("user_id", col("user_id") + lit(k * uOff))
        .withColumn("event_id", col("event_id") + lit(k * eOff)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$work/events.parquet")
    println(s"STRESS| events corpus: ${nEv * copies} rows, " +
      s"${nUsers * copies} users ($copies× $src)")

    // Analytics rows: user copies replay identical streams, so funnel
    // stage counts and retention cells scale exactly ×copies, and the
    // transition-pair counts scale ×copies with identical probabilities
    // avoided in the law (n·10/tot·10 can differ from n/tot by one ulp).
    timed("q_funnel", s"$work/out", q("q_funnel", work))
    sameSet("q_funnel stage counts = sf0.1 ×copies",
      out("q_funnel").select((col("n_signup") / copies).cast("long")
          .as("n_signup"),
        (col("n_click") / copies).cast("long").as("n_click"),
        (col("n_purchase") / copies).cast("long").as("n_purchase")),
      q("q_funnel", src))
    timed("q_cohort_retention", s"$work/out", q("q_cohort_retention", work))
    sameSet("q_cohort_retention = sf0.1 ×copies",
      out("q_cohort_retention").select(col("c0"), col("offset_h"),
        (col("n_users") / copies).cast("long").as("n_users")),
      q("q_cohort_retention", src))
    timed("q_event_transitions", s"$work/out", q("q_event_transitions", work))
    sameSet("q_event_transitions counts = sf0.1 ×copies",
      out("q_event_transitions").select(col("cur"), col("nxt"),
        (col("n") / copies).cast("long").as("n")),
      q("q_event_transitions", src).select(col("cur"), col("nxt"), col("n")))

    timed("q_ewma", s"$work/out", q("q_ewma", work))
    sameSet("q_ewma = sf0.1 values per copy",
      out("q_ewma").select((col("user_id") % uOff).as("user_id"),
        (col("event_id") % eOff).as("event_id"), col("ewma_micros"))
        .distinct(),
      q("q_ewma", src))

    timed("q_sessionize", s"$work/out", q("q_sessionize", work))
    val sess = out("q_sessionize")
    check("q_sessionize row count = sf0.1 × copies",
      sess.count() == q("q_sessionize", src).count() * copies,
      s"got ${sess.count()}")
    sameSet("q_sessionize = sf0.1 sessions ×copies",
      sess.select((col("user_id") % uOff).as("user_id"), col("session_id"),
        col("n_events"), col("start_us"), col("end_us")).distinct(),
      q("q_sessionize", src))

    // Watermarked stateful stream over the same ×copies events, on the
    // RocksDB state store (the 100 TB state path): feed the events in
    // event-time order through chunked micro-batches so the watermark
    // really advances and evicts state mid-run, then flush the open tail
    // with per-user far-future sentinels. Asserts (a) RocksDB actually
    // took effect, (b) the closed-session set equals the batch twin just
    // verified above — streaming == batch at 10× — and (c) peak state is
    // bounded by the USER count (one open session per user), not the 10×
    // event count: the bounded-state scale contract, demonstrated.
    {
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.Streams
      import graft.streaming.Streams.{Ev, Session}
      spark.conf.set(Streams.RocksDbProvider._1, Streams.RocksDbProvider._2)
      val evs = spark.read.parquet(s"$work/events.parquet")
        .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id")
        .orderBy("ts_us", "event_id").as[Ev].collect()
      val maxUs = evs.last.ts_us
      val sentinels = (0L until nUsers * copies)
        .map(u => Ev(u, maxUs + 10 * Streams.GapUs, Long.MaxValue))
      val input = MemoryStream[Ev](spark)
      val sink = "stress_sessions"
      // fresh checkpoint every run: MemoryStream sources cannot recover
      // from a checkpoint, so a leftover dir from a prior stress run
      // fails the query at analysis ("does not support recovering")
      val ckpt = new java.io.File(s"$work/ckpt_sessionize")
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
      val t0 = System.nanoTime()
      val sq = Streams.sessionize(input.toDS()).writeStream
        .format("memory").queryName(sink)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try {
        // 20 event-time-ordered chunks ⇒ ≥ 20 micro-batches: the
        // watermark advances between chunks, so mid-run state eviction is
        // exercised, not just the final sentinel flush
        evs.grouped(math.max(1, evs.length / 20)).foreach { chunk =>
          input.addData(chunk.toSeq: _*)
          sq.processAllAvailable()
        }
        input.addData(sentinels: _*)
        sq.processAllAvailable()
        val secs = (System.nanoTime() - t0) / 1e9
        val progress = sq.recentProgress.flatMap(_.stateOperators)
        val usedRocks = progress.exists(
          _.customMetrics.keySet.asScala.exists(_.contains("rocksdb")))
        check("stream sessionize ran on RocksDB state store", usedRocks,
          "no rocksdb custom metrics in any progress event")
        val peakState =
          if (progress.isEmpty) 0L else progress.map(_.numRowsTotal).max
        println(f"STRESS| stream_sessionize    $secs%7.2f s  peakState " +
          f"$peakState%7d rows (${nEv * copies} events, " +
          f"${nUsers * copies} users)")
        check("stream state bounded by users, not events",
          peakState <= nUsers * copies,
          s"$peakState state rows > ${nUsers * copies} users")
        val got = spark.table(sink).as[Session].toDF()
          .select(col("user_id"), col("n_events"),
            col("start_us"), col("end_us"))
        // sentinel sessions never close, so `got` is exactly the batch
        // twin's session set (which q_sessionize above already verified
        // against the sf0.1 blow-up) — compare full multiset
        sameSet("stream sessionize = batch q_sessionize at ×copies",
          got, sess.select(col("user_id"), col("n_events"),
            col("start_us"), col("end_us")))
      } finally {
        sq.stop()
        spark.conf.unset(Streams.RocksDbProvider._1)
      }
    }

    spark.stop()
    if (failures > 0) {
      System.err.println(s"STRESS| $failures invariant(s) failed")
      sys.exit(1)
    }
    println("STRESS| all invariants passed")
  }

  /** 100×-scale text-path stress (`mode=text`, run as
    * `runMain graft.StressMain <src> 100 <work> text`): the shuffle-heavy
    * hash-only text operators whose 10× blow-up laws extend unchanged,
    * plus the METRIC laws behind the 100 TB claims. Builds ×(copies/10)
    * and ×copies corpora and compares one genuine 10× scale STEP taken at
    * the 100× point:
    *  - shuffle bytes must scale ~linearly in corpus size for both
    *    q_inverted_index_shard and q_substring_dup (they shuffle hashes/
    *    tokens, never assembled text — a superlinear ratio means an
    *    accidental cross-product or re-read crept in);
    *  - q_substring_dup peak task memory must stay bounded: its groups
    *    carry O(1) numeric state and HashAggregate spills past its
    *    budget, so scale shows up as spill, never as peak;
    *  - the index arms assemble full postings strings (the oracle-hash
    *    contract pins byte-identical output, so assembly cannot be
    *    elided even in the sharded arm's second level) — their per-task
    *    state DOES grow with the head term's list; the sharded arm's
    *    point is that its FIRST-level (term, 128-doc shard) buffers are
    *    width-bounded. Both peaks are printed as evidence rows; the
    *    bound law is asserted on the substring path where it is true
    *    without qualification.
    * The events/embeddings/GEMM/streaming paths stay 10×-only: the
    * streaming twin collects the event log driver-side and the forced
    * GEMM arm is quadratic in blocks — both by design of their harnesses,
    * not the operators. */
  /** 100×-scale embedding-path stress (`mode=embed`, run as
    * `runMain graft.StressMain <src> 100 <work> embed`): the vector
    * operators whose scale story must survive a genuine 10× step taken
    * at the 100× point (×(copies/10) and ×copies corpora, 500k vectors
    * at ×100 over sf0.1).
    *
    *  - kNN-join under its scale CONTRACT (buckets ∝ corpus, 8·copies,
    *    AND shuffle partitions ∝ corpus — the knob a real cluster turns
    *    as data grows; pinning partitions at the ×10 setting while the
    *    corpus grows 10× was measured to push per-TASK volume, peak and
    *    spill up ~linearly even though per-BUCKET work is flat — 168 →
    *    703 MB peak, 113 GB spill): identical copies share a k-means
    *    bucket (argmax of identical vectors is identical) while the
    *    distinct values spread over 8·copies centroids, so per-bucket
    *    occupancy — and with it per-bucket pair work — stays at the
    *    sf0.1 level as everything grows 100×. Laws: row count
    *    3·nRanked·copies, rank-1 neighbor an exact copy (cos 1.0) at
    *    both scales, shuffle bytes ~linear over the step, peak task
    *    memory flat once partitions scale with the corpus.
    *  - q_embed_quantize: per-dim min/max are duplication-invariant, so
    *    every copy's int8 codes equal its original's — the ×copies
    *    output maps (vec_id % vOff) exactly onto the sf0.1 output. The
    *    op is scan-bound (zero vector shuffles) at any size.
    *  - q_pca_cov: micro-long means floor(Σ/n) and second moments are
    *    invariant when Σ and n scale together — the ×copies covariance
    *    must be IDENTICAL to sf0.1, checked exactly at 100×.
    * The LSH/banded families are deliberately NOT metric-stressed on
    * this corpus: ×copies of IDENTICAL vectors makes every band bucket
    * quadratic in copies BY CONSTRUCTION (c·(c−1)/2 true-dup pairs per
    * family is the right answer, not a flaw), so a linear-shuffle law
    * would reject correct behavior; their laws live in the ×10 suite. */
  /** DIMENSION-axis embedding stress (`mode=embeddim`, run as
    * `runMain graft.StressMain <src> <copies> <work> embeddim [tiles]`):
    * every other vector record is at the testdata's 64 dims, but
    * production embeddings are 768–4096-dim, and three scale surfaces
    * grow with DIM rather than rows — the broadcast-centroid row width
    * in assignment, the per-task block bytes of the GEMM cosine join,
    * and the PQ subspace count (m = dim/8). Two expansions of the same
    * corpus, each with a distinct job:
    *
    *  - TILED (content-realistic, used for the resource laws): each
    *    vector is `tiles` concatenated copies of itself (64 → 64·tiles
    *    dims). Cosines are preserved MATHEMATICALLY (cos(tile a, tile b)
    *    = cos(a, b)) but not bit-exactly — the kernel accumulates
    *    64·tiles terms left-to-right, so a quantized cosine can flip at
    *    a floor-micro boundary with ~1e-7 per-pair probability; over the
    *    ~1e8 pairs a bucketed kNN evaluates that forbids an exact
    *    output-equality law on this corpus.
    *  - ZERO-PADDED (bit-exact, used for the invariance law): 64 real
    *    dims + 64·(tiles−1) zeros. IEEE x + 0.0·0.0 = x and the micro
    *    sums of a zero tail are exactly 0, so every dot, norm, centroid
    *    and quantized cosine is BIT-IDENTICAL to the base corpus — while
    *    the kernel still executes true full-width loops and every
    *    shuffled/broadcast row carries the full-width array.
    *
    * Both corpora are built at ×copies ROWS (r13 ran the pad corpus at
    * ×1 — the r13 verdict asked for the composed dim×row point, where
    * broadcast width, shuffle row width AND candidate volume are all
    * production-shaped at once).
    *
    * Laws:
    *  1. bucketed kNN over the zero-padded corpus ≡ the base-corpus
    *     output, exact set equality on (vec_id, rk, nn_id, cos) — pins
    *     that no operator in the chain (k-means seed, VecCentroid,
    *     assignment argmax, window rank) develops a width dependence
    *     that changes RESULTS — at ×copies rows.
    *  2. k-means assignment and GEMM wall grow at most dim-linearly
    *     (×3 noise slack on a ±100% box — the law is there to catch a
    *     dim² kernel, not to measure the constant), peak task memory
    *     bounded by the dim-scaled model, and ZERO spill at every dim.
    *  2c. GEMM TASK COUNT is sub-quadratic in dim: blocks come from
    *     [[graft.operators.Similarity.blocksFor]] (auto-sizing, the
    *     production dispatch path), whose parallelism floor is
    *     dim-independent — under the r13 64 MB-per-block TARGET the
    *     pair grid grew ∝ dim² (36 → 8,256 tasks for 16× dim, pure
    *     scheduling constant); the law binds measured listener task
    *     counts to ≤ dim-LINEAR growth and per-task peak to the
    *     2·MaxBlockBytes cap.
    *  3. PQ at m = dim/8 subspaces emits exactly m·n codes, zero spill
    *     — the subspace layout scales with dim without blowing the
    *     encode shuffle (codes are (vec_id, sub, code) ints, the
    *     exploded sv subvectors never shuffle past the broadcast join).
    */
  private def embedDimStress(spark: SparkSession, src: String, copies: Int,
      work: String, tiles: Int, skipGemm: Boolean = false): Unit = {
    val Sim = operators.Similarity
    val embs0 = spark.read.parquet(s"$src/embeddings.parquet")
    val vOff = embs0.agg(max("vec_id")).head.getLong(0) + 1
    val nVecs = embs0.count()
    val dimHi = 64 * tiles
    def build(c: Int, dir: String,
        expand: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
        parts: Int): Unit =
      embs0.crossJoin(broadcast(
          spark.range(c).select(col("id").as("cpy"))))
        .withColumn("vec_id", col("vec_id") + col("cpy") * lit(vOff))
        .withColumn("embedding", expand(col("embedding")))
        .drop("cpy")
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // ×copies rows at both dims (resource laws) AND ×copies zero-padded
    // (exact law at the composed dim×row point — r13 built pad at ×1)
    build(copies, s"$work/d64", identity, math.max(32, copies))
    build(copies, s"$work/d$dimHi", e => flatten(array_repeat(e, tiles)),
      math.max(32, copies * tiles / 2))
    build(copies, s"$work/pad",
      e => concat(e, array_repeat(lit(0.0f), 64 * (tiles - 1))),
      math.max(32, copies * tiles / 2))
    println(s"STRESS| embeddim corpora: ${nVecs * copies} vectors at " +
      s"64d, ${dimHi}d (tiled) and ${dimHi}d (zero-padded)")
    def vecs(dir: String) = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

    // ---- law 1: exact kNN invariance under zero-pad width at ×copies ----
    val knnBuckets = 8 * copies
    timed(s"knn_base_64d_x$copies", s"$work/out",
      Sim.knnJoin(spark, vecs(s"$work/d64"), 3, knnBuckets))
    timed(s"knn_pad_${dimHi}d_x$copies", s"$work/out",
      Sim.knnJoin(spark, vecs(s"$work/pad"), 3, knnBuckets))
    sameSet(s"kNN output bit-invariant under zero-pad 64d→${dimHi}d ×$copies",
      spark.read.parquet(s"$work/out/knn_pad_${dimHi}d_x$copies"),
      spark.read.parquet(s"$work/out/knn_base_64d_x$copies"))

    // ---- law 2a: assignment wall/peak/spill vs dim at ×copies rows ------
    // buckets and rows held fixed; only dim moves. Peak model: the rank
    // window's per-task sort input carries the embedding column, so peak
    // scales ≤ dim-linearly once partitions are fixed — the law allows
    // the dim-scaled model ×1.5 and catches anything super-linear.
    val kB = 8 * copies
    val (pLo, _, wLo) = timed(s"kmeans_64d_x$copies", s"$work/out",
      Sim.kmeansIterate(spark,
        Sim.dropZeroNorm(spark, vecs(s"$work/d64")), kB, 2))
    val sLo = spill.get
    val (pHi, _, wHi) = timed(s"kmeans_${dimHi}d_x$copies", s"$work/out",
      Sim.kmeansIterate(spark,
        Sim.dropZeroNorm(spark, vecs(s"$work/d$dimHi")), kB, 2))
    val sHi = spill.get
    check(s"k-means assignment zero spill at 64d and ${dimHi}d",
      sLo == 0 && sHi == 0, s"spill ${mb(sLo)} MB / ${mb(sHi)} MB")
    check(s"k-means assignment wall ≤ dim-linear ×3 (64d→${dimHi}d)",
      wHi <= wLo * tiles * 3.0 + 5.0,
      f"$wLo%.1f s → $wHi%.1f s vs allowed ${wLo * tiles * 3.0 + 5.0}%.1f s")
    check(s"k-means assignment peak within the dim-scaled model",
      pHi <= math.max(pLo, 64L << 20) * tiles * 1.5,
      s"peak ${mb(pHi)} MB vs ${mb(pLo)} MB at 64d")

    // ---- laws 2b/2c: GEMM cosine join vs dim at ×copies rows -------------
    // Blocks come from the PRODUCTION auto-sizing (Similarity.blocksFor on
    // Catalyst's own size estimate): its parallelism floor is
    // dim-independent, so the pair grid — and with it the task count —
    // stays flat as vectors widen until the 256 MB per-block byte cap
    // genuinely binds. Wall then isolates pure kernel work (∝ dim);
    // per-task peak may grow ∝ dim but never past 2·MaxBlockBytes.
    // optional skip for law-fix re-validation runs: the GEMM arms cost
    // ~100 min at 1024d × ×100 rows (the kernel's strictly-sequential
    // IEEE accumulation is the bit-parity contract, not a bug) — loud,
    // never silent, so a green run can't read as "GEMM re-measured"
    if (skipGemm) {
      println(s"STRESS| skipgemm: GEMM laws NOT re-run at ×$copies/" +
        s"${dimHi}d — their record stands from the last full run")
    } else {
    val gemmThreshold = 0.992
    val par = spark.sparkContext.defaultParallelism
    def autoBlocks(df: DataFrame): Int =
      Sim.blocksFor(df.queryExecution.optimizedPlan.stats.sizeInBytes, par)
    val gLoBlocks = autoBlocks(vecs(s"$work/d64"))
    val gHiBlocks = autoBlocks(vecs(s"$work/pad"))
    val (gLoPeak, _, gLoWall) = timed(s"gemm_64d_x$copies", s"$work/out",
      Sim.blockedCosineJoin(spark, vecs(s"$work/d64"), gemmThreshold,
        gLoBlocks))
    val gLoSpill = spill.get
    val gLoTasks = tasks.get
    val (gHiPeak, _, gHiWall) = timed(s"gemm_${dimHi}d_x$copies", s"$work/out",
      Sim.blockedCosineJoin(spark, vecs(s"$work/pad"), gemmThreshold,
        gHiBlocks))
    val gHiSpill = spill.get
    val gHiTasks = tasks.get
    println(s"STRESS| GEMM blocks $gLoBlocks@64d → $gHiBlocks@${dimHi}d, " +
      s"tasks $gLoTasks → $gHiTasks (pair grid " +
      s"${gLoBlocks.toLong * (gLoBlocks + 1) / 2} → " +
      s"${gHiBlocks.toLong * (gHiBlocks + 1) / 2})")
    check(s"GEMM zero spill at 64d and ${dimHi}d",
      gLoSpill == 0 && gHiSpill == 0,
      s"spill ${mb(gLoSpill)} MB / ${mb(gHiSpill)} MB")
    check(s"GEMM wall ≤ dim-linear ×3 (64d→${dimHi}d)",
      gHiWall <= gLoWall * tiles * 3.0 + 5.0,
      f"$gLoWall%.1f s → $gHiWall%.1f s")
    // 2c: the r13 sizing grew the task count ∝ dim² (tiles² here); the
    // auto-sizing must hold it to ≤ dim-LINEAR — and at these corpus
    // sizes the parallelism floor governs, so the grids should be equal.
    check(s"GEMM task count sub-quadratic in dim (64d→${dimHi}d ×$copies)",
      gHiTasks <= gLoTasks * tiles.toLong,
      s"tasks $gLoTasks → $gHiTasks (> ×$tiles)")
    // Bound = 2 blocks of raw data × ~2× JVM object overhead (each block
    // deserializes to an Array of (Long, Array[Float], Double) tuples)
    // with the serialized copies still in flight in the fetch buffers —
    // measured 804 MB at 1024d × ×100 rows against 205 MB of raw block
    // data (~3.9×). The property the law pins is that peak scales with
    // the BLOCK model, never with corpus rows; the constant is the JVM's,
    // not the operator's.
    check(s"GEMM per-task peak within the block model (4·MaxBlockBytes) " +
        s"at ${dimHi}d",
      gHiPeak <= 4 * Sim.MaxBlockBytes,
      s"peak ${mb(gHiPeak)} MB vs cap ${mb(4 * Sim.MaxBlockBytes)} MB")
    // drift alert on the JVM-overhead constant itself (r14 ADVICE: the
    // static 4× cap alone halves the law's sensitivity): the measured
    // peak / two-raw-blocks ratio is PRINTED for the BENCH_NOTES record
    // and pinned ≤ 4.2 — 804/205 ≈ 3.9 measured + noise headroom, so a
    // regression of the per-pair overhead surfaces here long before the
    // static cap would move
    val rawTwoBlocks = 2 * vecs(s"$work/pad")
      .queryExecution.optimizedPlan.stats.sizeInBytes.toLong / gHiBlocks
    val peakRawRatio = gHiPeak.toDouble / math.max(rawTwoBlocks, 1L)
    println(f"STRESS| GEMM peak/raw-2-block ratio $peakRawRatio%.2f " +
      f"(peak ${mb(gHiPeak)} MB / raw ${mb(rawTwoBlocks)} MB; " +
      "record vs last run, alert > 4.2)")
    if (rawTwoBlocks >= (32L << 20))
      check(s"GEMM peak/raw ratio ≤ 4.2 at ${dimHi}d (overhead drift)",
        peakRawRatio <= 4.2, f"ratio $peakRawRatio%.2f")
    // the zero-padded GEMM pair set must also equal the base pair set
    // (same bit-exactness argument as law 1 — blocking never changes a
    // pair's cosine, only which task evaluates it)
    sameSet(s"GEMM pairs bit-invariant under zero-pad 64d→${dimHi}d ×$copies",
      spark.read.parquet(s"$work/out/gemm_${dimHi}d_x$copies"),
      spark.read.parquet(s"$work/out/gemm_64d_x$copies"))
    }

    // ---- law 3: PQ subspace layout at dim/8 subspaces at ×copies rows ----
    // Input partitions ∝ corpus (the r12 lesson yet again, third shape):
    // the ×copies pad corpus lands in ~1 MB files that the scan coalesces
    // into ~7 maxPartitionBytes partitions, so the encode's map-side
    // argmin hash-agg sees 100× the groups per task of the ×1 run and
    // spills — a harness artifact of small-file coalescing on one box,
    // not an operator property; production inputs keep per-task group
    // counts flat as data and partitions grow together.
    val m = dimHi / 8
    val padded = vecs(s"$work/pad").repartition(math.max(32, copies))
    val cb = Sim.pqCodebook(spark, padded, m, 8, 16).localCheckpoint()
    timed(s"pq_encode_${dimHi}d_m${m}_x$copies", s"$work/out",
      Sim.pqEncode(spark, padded, cb, m, 8))
    val pqSpill = spill.get
    val enc = spark.read.parquet(s"$work/out/pq_encode_${dimHi}d_m${m}_x$copies")
    check(s"PQ encode at m=$m emits m·n codes at ×$copies rows, zero spill",
      enc.count() == m.toLong * nVecs * copies && pqSpill == 0,
      s"rows ${enc.count()} want ${m.toLong * nVecs * copies}, " +
        s"spill ${mb(pqSpill)} MB")
  }

  private def embedStress(spark: SparkSession, src: String, copies: Int,
      work: String): Unit = {
    val embs0 = spark.read.parquet(s"$src/embeddings.parquet")
    val vOff = embs0.agg(max("vec_id")).head.getLong(0) + 1
    val nVecs = embs0.count()
    val lo = math.max(copies / 10, 1)
    // crossJoin a broadcast range — see textStress.build for why
    def build(c: Int, dir: String): Unit =
      embs0.crossJoin(broadcast(
          spark.range(c).select(col("id").as("cpy"))))
        .withColumn("vec_id", col("vec_id") + col("cpy") * lit(vOff))
        .drop("cpy")
        .repartition(math.max(32, c / 4))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    build(lo, s"$work/x$lo")
    build(copies, s"$work/x$copies")
    println(s"STRESS| embed corpora: ${nVecs * lo} vectors at ×$lo, " +
      s"${nVecs * copies} vectors at ×$copies ($src)")
    def q(name: String, dir: String): DataFrame =
      SparkEntry.queries(name)(spark, dir)
    def out(name: String): DataFrame =
      spark.read.parquet(s"$work/out/$name")
    def knnAt(c: Int): DataFrame = operators.Similarity.knnJoin(spark,
      spark.read.parquet(s"$work/x$c/embeddings.parquet")
        .select(col("vec_id"), col("embedding")), 3, 8 * c)
    // shuffle partitions scale with the corpus across the step (32 at
    // ×lo → 32·step at ×copies): per-task volume is then constant, which
    // is the configuration a 1000-executor cluster actually runs — the
    // peak law below asserts the OPERATOR adds no super-linear per-task
    // state once the harness holds per-task input flat
    val pKey = "spark.sql.shuffle.partitions"
    val pBase = spark.conf.get(pKey)
    val mLo = timed(s"q_knn_join_x$lo", s"$work/out", knnAt(lo))
    spark.conf.set(pKey,
      (pBase.toInt * (copies.toDouble / lo)).toInt.toString)
    val mHi = timed(s"q_knn_join_x$copies", s"$work/out", knnAt(copies))
    spark.conf.set(pKey, pBase)
    val nRanked = operators.Similarity.dropZeroNorm(spark, embs0).count()

    // ---- correctness laws at both scales ---------------------------------
    for ((c, m) <- Seq(lo -> mLo, copies -> mHi)) {
      val knn = out(s"q_knn_join_x$c")
      check(s"×$c kNN row count = 3 × nonzero-norm corpus",
        knn.count() == 3L * nRanked * c, s"got ${knn.count()}")
      // c = 1 has no identical copies (the lo tier when copies = 10),
      // so the cos-1.0 law only applies from ×2 up
      if (c > 1) check(s"×$c kNN rank-1 = identical copy (cos 1.0)",
        knn.filter(col("rk") === 1).agg(min("cos")).head.getDouble(0) == 1.0,
        "a rank-1 neighbor below 1.0")
    }

    // ---- metric laws over the 10× step at the 100× point -----------------
    // Upper bounds only, unlike the text suite's two-sided band:
    //  - shuffle: the window exchange carries (vec_id, nn_id, cos) — the
    //    embeddings are pruned below the exchange — and on a corpus that
    //    is 100 identical copies lz4 compresses those runs SUB-linearly
    //    (measured 3.9× for the 10× step), so only the super-linear
    //    (cross-product ≈ step²) direction is a defect signal;
    //  - peak: attributed per stage below — the whole-query peak is the
    //    RANK stage's window sort (kmeans stage: 32 MB flat). AQE
    //    coalesces the window exchange toward the 64 MB advisory
    //    partition size, so per-task sort input is CONFIG-governed at
    //    any corpus size; the observable peak is that input times a
    //    small sorter-overhead constant and wobbles with the coalesced
    //    layout (136 → 353 MB measured). ≤ 4× over a 10× step rejects
    //    linear growth (→ 1.4 GB) and the ObjectHashAggregate fallback
    //    this law originally caught (2.4 GB, 116 GB spill — see the
    //    assignByArray scaladoc).
    val step = copies.toDouble / lo
    val ratio = mHi._2.toDouble / math.max(mLo._2, 1L)
    check(f"scaled-bucket kNN shuffle bytes not super-linear (×$lo→×$copies)",
      ratio <= step * 1.5,
      f"shufW ratio $ratio%.2f vs step $step%.0f " +
        s"(${mb(mLo._2)} MB → ${mb(mHi._2)} MB)")
    // Peak law with the DUPLICATE-OCCUPANCY FLOOR (found by the ×1000
    // decade): any cosine bucketing co-locates identical vectors, so a
    // bucket's occupancy can never drop below the duplicate-family size
    // (= copies here) no matter how many buckets the contract scales to
    // — once copies exceeds corpus/buckets, the rank stage's per-task
    // pair work grows as (family/occupancy_lo)² and no bucket count can
    // stop it (at ×1000: 2M vectors, 2000 distinct, 8·copies buckets
    // collapse to ≤ 2000 non-empty → 3.9 GB peak, 65 GB spill). The
    // bound below is that floor model ×1.5 slack; when the floor does
    // not bind (occupancy is corpus/buckets at both tiers) it reduces
    // to the old flat ≤ 4× law. The PRODUCTION answer to a floor-bound
    // corpus is dedup-first — demonstrated right after.
    val occLo = math.max(nVecs * lo / (8L * lo), lo.toLong).toDouble
    val occHi = math.max(nVecs * copies / (8L * copies),
      copies.toLong).toDouble
    val occRatio = (occHi / occLo) * (occHi / occLo)
    check(s"scaled-bucket kNN peak within the occupancy-floor model " +
      s"(×$lo→×$copies)",
      mHi._1 <= math.max(mLo._1, 64L << 20) *
        math.max(4.0, occRatio * 1.5),
      s"peak ${mb(mHi._1)} MB at ×$copies vs ${mb(mLo._1)} MB at ×$lo " +
        f"(floor model allows ×${math.max(4.0, occRatio * 1.5)}%.1f)")
    if (occHi > nVecs.toDouble * copies / (8L * copies)) {
      // the floor binds: run the production path — exact-dedup the
      // corpus by embedding digest, kNN over the distinct vectors at
      // the BASE bucket count, then expand every copy to its
      // representative's neighbor list. Peak returns to the base tier
      // and the expansion is a plain digest equi-join.
      val blownE = spark.read
        .parquet(s"$work/x$copies/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val reps = blownE.groupBy(col("embedding"))
        .agg(min(col("vec_id")).as("rep_id"))
      val mDedup = timed(s"knn_dedup_first_x$copies", s"$work/out",
        operators.Similarity.knnJoin(spark,
          reps.select(col("rep_id").as("vec_id"), col("embedding")),
          3, 8))
      val repKnn = out(s"knn_dedup_first_x$copies")
      val expanded = blownE.join(reps, Seq("embedding"))
        .select(col("vec_id"), col("rep_id"))
        .join(repKnn.select(col("vec_id").as("rep_id"),
          col("nn_id"), col("rk")), Seq("rep_id"))
      check(s"dedup-first kNN expansion covers every copy ×k at ×$copies",
        expanded.count() == 3L * nRanked * copies,
        s"got ${expanded.count()}, want ${3L * nRanked * copies}")
      check(s"dedup-first kNN peak at the BASE tier despite ×$copies " +
        "duplication",
        mDedup._1 <= math.max(mLo._1, 64L << 20) * 2,
        s"peak ${mb(mDedup._1)} MB vs lo-tier ${mb(mLo._1)} MB")
    }

    // ---- peak attribution: the two kNN stages timed separately -----------
    // Evidence rows (no law): which stage owns the whole-query peak.
    // Stage A = k-means iterate (scan-bound assignment + tiny centroid
    // aggs); stage B = bucket self-join + per-vector window rank over a
    // MATERIALIZED assignment, at the same scaled partition count as
    // the whole-query ×copies run.
    spark.conf.set(pKey,
      (pBase.toInt * (copies.toDouble / lo)).toInt.toString)
    val aPeak = timed(s"knn_stageA_kmeans_x$copies", s"$work/out",
      operators.Similarity.kmeansIterate(spark,
        operators.Similarity.dropZeroNorm(spark,
          spark.read.parquet(s"$work/x$copies/embeddings.parquet")
            .select(col("vec_id"), col("embedding"))), 8 * copies, 2))._1
    val bPeak = timed(s"knn_stageB_rank_x$copies", s"$work/out",
      operators.Similarity.rankWithinBuckets(spark,
        spark.read.parquet(s"$work/out/knn_stageA_kmeans_x$copies"), 3))._1
    spark.conf.set(pKey, pBase)
    println(s"STRESS| peak attribution: kmeans stage ${mb(aPeak)} MB, " +
      s"rank stage ${mb(bPeak)} MB (whole query ${mb(mHi._1)} MB)")

    // ---- duplication-invariance laws at ×copies --------------------------
    timed(s"q_embed_quantize_x$copies", s"$work/out",
      q("q_embed_quantize", s"$work/x$copies"))
    sameSet(s"q_embed_quantize codes per copy = sf0.1 at ×$copies",
      out(s"q_embed_quantize_x$copies")
        .select((col("vec_id") % vOff).as("vec_id"), col("codes_md5"),
          col("max_err_micros")).distinct(),
      q("q_embed_quantize", src))
    timed(s"q_pca_cov_x$copies", s"$work/out",
      q("q_pca_cov", s"$work/x$copies"))
    sameSet(s"q_pca_cov invariant under duplication at ×$copies",
      out(s"q_pca_cov_x$copies"), q("q_pca_cov", src))

    // ---- diversity sample at ×copies -------------------------------------
    // Duplication-invariant centroids ⇒ the same 8 clusters with sizes
    // ×copies, so the cap binds in EVERY bucket: the kept corpus is
    // exactly buckets·cap rows — the "sampled size is budgeted by
    // config" contract observed at 100×. The md5-priority selection is
    // also rerun-deterministic (same rows on a second evaluation with a
    // different partition layout).
    timed(s"q_diversity_sample_x$copies", s"$work/out",
      q("q_diversity_sample", s"$work/x$copies"))
    val div = out(s"q_diversity_sample_x$copies")
    check(s"diversity cap binds in every bucket at ×$copies",
      div.count() == 8L * 40 &&
        div.groupBy("bucket").count().filter(col("count") =!= 40)
          .count() == 0,
      s"per-bucket kept: ${div.groupBy("bucket").count().collect().toSeq}")
    sameSet(s"diversity sample rerun-deterministic at ×$copies",
      div, q("q_diversity_sample", s"$work/x$copies"))

    // ---- frozen-centroid ANN recall law at ×copies (r11 verdict #5) ------
    // The REGISTERED recall rows train k-means on the corpus they query,
    // so duplication changes seeding and no simple law holds for them.
    // FREEZING the centroids from the base corpus restores an exact one:
    // assignment is id-independent, so every blown bucket is the exact
    // ×copies blow-up of its base bucket and each query's candidate
    // stream is the blow-up of its base stream. Under (cos DESC, vec_id)
    // ranking, any copy of a base vector outside a base arm's top-10 has
    // ≥ 10 predecessors in the blown arm (the 10 better base vectors'
    // k=0 copies), so the blown top-10 is EXACTLY the re-ranked ×copies
    // blow-up of the base top-10 — for both the exact and the IVF arm.
    // Copies of the query itself are excluded by id ≡ q_id (mod vOff):
    // each query has `copies` cos-1.0 clones in the blown corpus, and
    // keeping them would make every recall trivially 1.0.
    {
      import org.apache.spark.sql.expressions.Window
      val Sim = operators.Similarity
      val base = Sim.dropZeroNorm(spark,
        embs0.select(col("vec_id"), col("embedding"))).localCheckpoint()
      val cents = Sim.centroidsOf(Sim.kmeansIterate(spark, base, 8, 2))
        .localCheckpoint() // FROZEN: trained on the base corpus only
      val blown = Sim.dropZeroNorm(spark,
        spark.read.parquet(s"$work/x$copies/embeddings.parquet")
          .select(col("vec_id"), col("embedding")))
      val qs = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_v"))
        .localCheckpoint()
      val wq = Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("vec_id"))
      // both arms keep (q_id, nn_id, cos, rk); the blown runs are timed
      // through the parquet dump, the base runs feed the prediction
      def exactArm(corpus: DataFrame): DataFrame = corpus
        .crossJoin(broadcast(qs))
        .filter(col("vec_id") % lit(vOff) =!= col("q_id"))
        .withColumn("cos", Sim.cosine(spark, col("embedding"), col("q_v")))
        .withColumn("rk", row_number().over(wq))
        .filter(col("rk") <= 10)
        .select(col("q_id"), col("vec_id").as("nn_id"), col("cos"),
          col("rk"))
      def ivfArm(corpus: DataFrame): DataFrame = {
        val cw = Window.partitionBy("q_id")
          .orderBy(col("c_cos").desc, col("c_id"))
        val qp = qs.crossJoin(broadcast(cents))
          .withColumn("c_cos", Sim.cosine(spark, col("q_v"), col("c_v")))
          .withColumn("c_rk", row_number().over(cw))
          .filter(col("c_rk") <= 2)
          .select(col("q_id"), col("q_v"), col("c_id").as("bucket"))
        Sim.assignByArray(spark, corpus, cents)
          .join(qp, Seq("bucket"))
          .filter(col("vec_id") % lit(vOff) =!= col("q_id"))
          .withColumn("cos",
            Sim.cosine(spark, col("embedding"), col("q_v")))
          .withColumn("rk", row_number().over(wq))
          .filter(col("rk") <= 10)
          .select(col("q_id"), col("vec_id").as("nn_id"), col("cos"),
            col("rk"))
      }
      // the blow-up law applied to a base arm: every copy of every
      // member re-ranked by (cos, id), cut to 10. cos carries over from
      // the base member (identical vectors ⇒ identical floor-micro
      // cosine), so the prediction never touches the blown corpus.
      def blowUp(baseArm: DataFrame): DataFrame = baseArm
        .select(col("q_id"), col("nn_id"), col("cos"))
        .crossJoin(broadcast(
          spark.range(copies).select(col("id").as("k"))))
        .select(col("q_id"),
          (col("nn_id") + col("k") * lit(vOff)).as("vec_id"), col("cos"))
        .withColumn("rk", row_number().over(wq))
        .filter(col("rk") <= 10)
        .select(col("q_id"), col("vec_id").as("nn_id"), col("cos"),
          col("rk"))
      timed(s"ann_recall_exact_x$copies", s"$work/out", exactArm(blown))
      timed(s"ann_recall_ivf_x$copies", s"$work/out", ivfArm(blown))
      sameSet(s"blown exact top-10 = blow-up law of base exact (×$copies)",
        out(s"ann_recall_exact_x$copies"), blowUp(exactArm(base)))
      sameSet(s"blown IVF top-10 = blow-up law of base IVF (×$copies)",
        out(s"ann_recall_ivf_x$copies"), blowUp(ivfArm(base)))
      // the measured recall, for the record: evidence the pinned
      // measurement is non-degenerate (the 2-probe cut misses
      // cross-bucket neighbors, so recall < 1 somewhere)
      val hits = out(s"ann_recall_exact_x$copies").select("q_id", "nn_id")
        .intersect(out(s"ann_recall_ivf_x$copies").select("q_id", "nn_id"))
        .count()
      val denom = out(s"ann_recall_exact_x$copies").count()
      println(f"STRESS| frozen-centroid recall@10 at ×$copies: " +
        f"$hits/$denom = ${hits.toDouble / denom}%.3f")
    }
  }

  /** 100×-scale events/analytics stress (`mode=events`, run as
    * `runMain graft.StressMain <src> 100 <work> events`): the product-
    * analytics family at ×(copies/10) and ×copies (10M events at ×100
    * over sf0.1), under the same user-copy blow-up as the ×10 suite
    * (copy k of user u = u + k·uOff, event_ids shifted, ts unchanged —
    * every user copy replays an identical stream, so every per-user
    * computation is exactly replicated). Correctness laws at ×copies:
    * funnel and windowed-funnel stage counts ×copies, retention cells
    * ×copies, transition counts ×copies, EWMA values identical per
    * copy, sessionize sessions set-exact ×copies. Metric law: the
    * sessionize window shuffle scales ~linearly over the 10× step
    * (two-sided band like the text suite — user_ids are distinct per
    * copy so nothing compresses away; measured 10.1×), with shuffle
    * partitions grown ∝ corpus so per-task volume is the config a real
    * cluster runs. The STREAMING twin stays in the ×10 suite by
    * harness design (it collects the event log driver-side to feed
    * MemoryStream). */
  private def eventsStress(spark: SparkSession, src: String, copies: Int,
      work: String): Unit = {
    val ev0 = Tables(spark, src, "events")
    val uOff = ev0.agg(max("user_id")).head.getLong(0) + 1
    val eOff = ev0.agg(max("event_id")).head.getLong(0) + 1
    val nEv = ev0.count()
    val lo = math.max(copies / 10, 1)
    // Flipped from the textStress recipe (events ⨯ broadcast(range)):
    // sf0.1 events is ONE ~2 MB parquet file = one scan partition, so
    // that shape funnels all c·nEv output rows through a single task —
    // measured 25+ min for the ×1000 build and hours at ×10000. Here the
    // RANGE is the distributed side (c/4-way, capped at 2048) and the
    // 100k-row events table is the broadcast side: every task builds its
    // own copies and writes directly — no shuffle of the blown-up corpus
    // at all, build wall ∝ rows/parallelism at any ×copies.
    def build(c: Int, dir: String): Unit =
      spark.range(0, c, 1,
          math.max(32, math.min(c / 4, 2048)))
        .select(col("id").as("cpy"))
        .crossJoin(broadcast(ev0))
        .withColumn("user_id", col("user_id") + col("cpy") * lit(uOff))
        .withColumn("event_id", col("event_id") + col("cpy") * lit(eOff))
        .drop("cpy")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    build(lo, s"$work/x$lo")
    build(copies, s"$work/x$copies")
    println(s"STRESS| events corpora: ${nEv * lo} rows at ×$lo, " +
      s"${nEv * copies} rows at ×$copies ($src)")
    def q(name: String, dir: String): DataFrame =
      SparkEntry.queries(name)(spark, dir)
    def out(name: String): DataFrame =
      spark.read.parquet(s"$work/out/$name")

    // sessionize at both scales for the metric law, partitions ∝ corpus
    val pKey = "spark.sql.shuffle.partitions"
    val pBase = spark.conf.get(pKey)
    val mLo = timed(s"q_sessionize_x$lo", s"$work/out",
      q("q_sessionize", s"$work/x$lo"))
    spark.conf.set(pKey,
      (pBase.toInt * (copies.toDouble / lo)).toInt.toString)
    val mHi = timed(s"q_sessionize_x$copies", s"$work/out",
      q("q_sessionize", s"$work/x$copies"))
    spark.conf.set(pKey, pBase)
    val step = copies.toDouble / lo
    val ratio = mHi._2.toDouble / math.max(mLo._2, 1L)
    // two-sided like the text suite: measured 10.1× for the 10× step —
    // user_ids are distinct across copies so the window shuffle does
    // not compress away (unlike the duplicated-vector embed corpus)
    check(f"sessionize shuffle bytes scale ~linearly (×$lo→×$copies)",
      ratio >= step * 0.6 && ratio <= step * 1.5,
      f"shufW ratio $ratio%.2f vs step $step%.0f " +
        s"(${mb(mLo._2)} MB → ${mb(mHi._2)} MB)")
    // two-regime like the text suite's substring law: under pressure the
    // per-user window sort legitimately grabs up to its fair share of
    // the execution pool before spilling (×1000 measured 1055 MB with
    // ZERO spill — pool opportunism, not operator state); unmanaged
    // growth beyond the share is still the defect signal
    val sessFair = (Runtime.getRuntime.maxMemory * 0.6 /
      spark.sparkContext.defaultParallelism * 1.5).toLong
    check(s"sessionize peak ≤ max(4× lo tier, pool fair share) " +
      s"(×$lo→×$copies)",
      mHi._1 <= math.max(math.max(mLo._1, 64L << 20) * 4, sessFair),
      s"peak ${mb(mHi._1)} MB at ×$copies vs ${mb(mLo._1)} MB at ×$lo, " +
        s"fair share ${mb(sessFair)} MB")
    sameSet(s"q_sessionize = sf0.1 sessions ×$copies",
      out(s"q_sessionize_x$copies")
        .select((col("user_id") % uOff).as("user_id"), col("session_id"),
          col("n_events"), col("start_us"), col("end_us")).distinct(),
      q("q_sessionize", src))

    // Past ×1000 the tier runs the three ops the decade is FOR —
    // sessionize (above), attribution and EWMA are where an O(n log n)+
    // constant or window-state ceiling would show — and skips the
    // ops whose ×1000 records already pin their laws (funnel/retention/
    // transitions/asof are the same shuffle shapes at lower constants).
    // Loud, not silent: the skip is printed so a green run cannot read
    // as "all eight ops passed at ×10000".
    val heavyOnly = copies >= 10000
    if (heavyOnly) println(s"STRESS| ×$copies tier: running sessionize/" +
      "attrib/ewma only; funnel/retention/transitions/asof laws stand at " +
      "their ×1000 records")

    // analytics rows at ×copies: per-user replication laws, all exact
    for ((name, law) <- if (heavyOnly) Seq.empty[(String, DataFrame => DataFrame)]
        else Seq[(String, DataFrame => DataFrame)](
        "q_funnel" -> (df => df.select(
          (col("n_signup") / copies).cast("long").as("n_signup"),
          (col("n_click") / copies).cast("long").as("n_click"),
          (col("n_purchase") / copies).cast("long").as("n_purchase"))),
        "q_funnel_windowed" -> (df => df.select(
          (col("n_signup") / copies).cast("long").as("n_signup"),
          (col("n_click") / copies).cast("long").as("n_click"),
          (col("n_purchase") / copies).cast("long").as("n_purchase"))),
        "q_cohort_retention" -> (df => df.select(col("c0"),
          col("offset_h"),
          (col("n_users") / copies).cast("long").as("n_users"))),
        "q_event_transitions" -> (df => df.select(col("cur"), col("nxt"),
          (col("n") / copies).cast("long").as("n")))
      )) {
      timed(s"${name}_x$copies", s"$work/out", q(name, s"$work/x$copies"))
      val src0 = q(name, src)
      val cols = law(out(s"${name}_x$copies"))
      sameSet(s"$name = sf0.1 ×$copies",
        cols, src0.select(cols.columns.map(col): _*))
    }
    // session attribution at ×copies: each copy's sessions are the base
    // run's with offset ids (the argmin keys shift by a per-copy
    // constant, preserving every pick), so the whole attribution table
    // collapses to the base one under the modulo map
    // at the heavy tier the window ops get partitions ∝ corpus too (the
    // r12 text-tier lesson: fixed partitions grow per-TASK sort input
    // ×step and measure the harness, not the operator)
    if (heavyOnly) spark.conf.set(pKey,
      (pBase.toInt * (copies.toDouble / lo)).toInt.toString)
    timed(s"q_session_attrib_x$copies", s"$work/out",
      q("q_session_attrib", s"$work/x$copies"))
    sameSet(s"q_session_attrib = sf0.1 attribution per copy at ×$copies",
      out(s"q_session_attrib_x$copies")
        .select((col("user_id") % uOff).as("user_id"), col("session_id"),
          col("n_events"), col("first_touch"), col("last_touch"),
          col("n_purchases"), col("purchase_value")).distinct(),
      q("q_session_attrib", src))
    // nearest as-of at ×copies: same per-copy identity — matches never
    // cross copies (disjoint users) and the candidate order inside a
    // copy is the base order shifted by a constant
    if (!heavyOnly) {
      timed(s"q_join_asof_nearest_x$copies", s"$work/out",
        q("q_join_asof_nearest", s"$work/x$copies"))
      sameSet(s"q_join_asof_nearest = sf0.1 matches per copy at ×$copies",
        out(s"q_join_asof_nearest_x$copies")
          .select((col("user_id") % uOff).as("user_id"),
            (col("click_id") % eOff).as("click_id"),
            (col("purchase_id") % eOff).as("purchase_id"),
            col("delta_us")).distinct(),
        q("q_join_asof_nearest", src))
    }
    timed(s"q_ewma_x$copies", s"$work/out", q("q_ewma", s"$work/x$copies"))
    if (heavyOnly) spark.conf.set(pKey, pBase)
    sameSet(s"q_ewma = sf0.1 values per copy at ×$copies",
      out(s"q_ewma_x$copies")
        .select((col("user_id") % uOff).as("user_id"),
          (col("event_id") % eOff).as("event_id"), col("ewma_micros"))
        .distinct(),
      q("q_ewma", src))
  }

  /** 100×-scale STREAMING sessionize (`mode=stream`, run as
    * `runMain graft.StressMain <src> 100 <work> stream`): lifts the
    * streaming stress ceiling from the ×10 suite, whose MemoryStream feed
    * collects the whole event log driver-side and so caps the corpus at
    * driver memory. Here nothing is ever materialized on the driver: the
    * ×copies corpus is staged as event-time-RANGE-chunked parquet files
    * (chunk = ts bucket, one file per chunk, file modification times in
    * chunk order) and fed through a real FILE SOURCE with
    * `maxFilesPerTrigger=1` — the oldest-first file queue turns each
    * chunk into its own micro-batch, so the watermark advances ~nChunks
    * times across the run and RocksDB state is evicted MID-STREAM, not
    * just at the final flush. A last far-future sentinel file (one event
    * per distinct user, built with `spark.range`-style frames, again no
    * collect) closes every open tail session.
    *
    * Asserts, at ×copies (10M events / 1.5M users at ×100 over sf0.1):
    * (a) the query really ran on the RocksDB state store, (b) peak state
    * rows ≤ distinct users — state scales with ACTIVE USERS, not events:
    * the 100 TB contract, now demonstrated at 10× the previous ceiling,
    * (c) the streamed closed-session set is EXACTLY the batch
    * q_sessionize output on the same corpus (sentinel sessions never
    * close, so the file-sink multiset must equal the batch twin). */
  /** Drain one chunk stream (the [[graft.operators.ChunkStream]] corpus
    * or ANN arm) and print its drain metrics, its job count per batch
    * (at test SF the drain wall is driver job count × the per-job floor,
    * so the job total is the number optimization work moves) and each
    * data batch's trigger wall. Checks that the feed drained in `nChunks`
    * data batches and returns (batchId, rows, seconds) per data batch in
    * id order. */
  private def drainChunkStream(spark: SparkSession, label: String,
      nChunks: Int)(start: => StreamingQuery): Seq[(Long, Long, Double)] = {
    val walls =
      scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) walls.synchronized {
          walls += ((e.progress.batchId, e.progress.numInputRows,
            e.progress.durationMs.get("triggerExecution").toDouble / 1000))
        }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    resetMetrics()
    val jobCount = new java.util.concurrent.atomic.AtomicLong
    val jobListener = new SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(jobListener)
    val t0 = System.nanoTime()
    start.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    drainMetrics()
    spark.sparkContext.removeSparkListener(jobListener)
    println(f"STRESS| $label drain ${wall}%7.2f s  peakTask " +
      f"${mb(peak.get)}%5d MB  shufW ${mb(shuf.get)}%5d MB  " +
      f"spill ${mb(spill.get)}%5d MB")
    println(f"STRESS| $label jobs: ${jobCount.get} total over " +
      f"$nChunks batches = ${jobCount.get.toDouble / nChunks}%.1f /batch")
    val batchWalls = walls.synchronized { walls.sortBy(_._1).toSeq }
    batchWalls.foreach { case (bid, rows, s) =>
      println(f"STRESS| $label batch $bid: $rows%9d rows ${s}%7.2f s")
    }
    check(s"$label drained the staged feed in $nChunks data batches",
      batchWalls.size == nChunks, s"${batchWalls.size} data batches")
    batchWalls
  }

  /** Stress tier for the q_stream_corpus_pipeline arm (the r14 verdict's
    * missing record): blow the documents table up ×copies (copies are
    * EXACT text duplicates under fresh doc_ids — the hardest case for the
    * accumulated-state design, since the stream must collapse them all
    * onto copy-0 state), run the incremental curation stream over the
    * doc_id-ordered 6-chunk feed, and pin three laws:
    *   1. per-batch wall stays bounded as state accumulates (no
    *      quadratic re-derivation of corpus bands);
    *   2. persisted state ∝ the CURATED corpus, not the stream length —
    *      structurally (hash/sh rows == stage-3 survivors, bands an
    *      exact per-doc multiple) and absolutely (survivors ≤ the base
    *      corpus even though the stream carried ×copies of it);
    *   3. the final report EQUALS the batch pipeline on the blown-up
    *      corpus (the registered row's oracle contract, at ×copies). */
  private def corpusStreamStress(spark: SparkSession, src: String,
      copies: Int, work: String, nChunks: Int): Unit = {
    val Dedup = graft.operators.Dedup
    val compactEvery = graft.operators.ChunkStream.CompactEvery
    val docs0 = spark.read.parquet(s"$src/documents.parquet")
    val dOff = docs0.agg(max("doc_id")).head.getLong(0) + 1
    val nDocs = docs0.count()
    blowUpDocs(spark, docs0, dOff, copies, s"$work/documents.parquet")
    println(s"STRESS| corpus-stream corpus: ${nDocs * copies} docs " +
      s"($copies× $src) at $work, $nChunks micro-batches")
    Dedup.stageCorpusFeed(spark, work, nChunks, s"$work/cfeed")
    val batchWalls = drainChunkStream(spark, "corpus-stream", nChunks)(
      Dedup.startCorpusStream(spark, s"$work/cfeed", s"$work/cscratch"))
    // law 1: the last batch verifies against nChunks-1 batches of
    // accumulated state; equal batch sizes, so a blow-up here means
    // per-batch work scales with the CORPUS instead of (batch + candidates)
    if (batchWalls.nonEmpty)
      check("corpus-stream per-batch wall bounded as state accumulates",
        batchWalls.last._3 <= batchWalls.head._3 * 4 + 10.0,
        f"first ${batchWalls.head._3}%.1f s → " +
          f"last ${batchWalls.last._3}%.1f s")
    // law 1b (batch-COUNT axis, r15 verdict items 1+3): per-batch wall
    // flat in the NUMBER of prior batches, not just their size — the law
    // the uncompacted O(batches) state layout would fail. Window means
    // (an eighth of the run each) so compaction batches land in both
    // windows; skip the first quarter (JVM warm-up + dedup-state ramp).
    if (batchWalls.size >= 32) {
      val wls = batchWalls.map(_._3)
      val win = batchWalls.size / 8
      val early = wls.slice(2 * win, 3 * win)
      val late = wls.takeRight(win)
      val (mE, mL) = (early.sum / early.size, late.sum / late.size)
      check("corpus-stream per-batch wall flat in batch COUNT",
        mL <= mE * 1.5 + 5.0,
        f"batches ${2 * win}-${3 * win - 1} mean $mE%.1f s → " +
          f"last $win mean $mL%.1f s")
    }
    // law 1c: state-layout boundedness — compaction keeps the on-disk
    // state at ≤ compactEvery+1 directories per kind regardless of how
    // many micro-batches the stream has lived (the per-batch listing and
    // small-files costs are dir-count-bounded)
    val st = s"$work/cscratch/state"
    for (kind <- Seq("hash", "sh", "band", "s4", "counts")) {
      val dirs = Option(new java.io.File(s"$st/$kind").listFiles())
        .getOrElse(Array.empty[java.io.File]).count(_.isDirectory)
      check(s"corpus-stream $kind state dirs bounded by compaction " +
          s"(≤ ${compactEvery + 1} after $nChunks batches)",
        dirs <= compactEvery + 1, s"$dirs dirs")
    }
    // law 2: state ∝ curated corpus
    val n3 = spark.read.parquet(s"$st/counts/*")
      .agg(sum("n3")).head.getLong(0)
    val hashRows = spark.read.parquet(s"$st/hash/*").count()
    val shRows = spark.read.parquet(s"$st/sh/*").count()
    val bandRows = spark.read.parquet(s"$st/band/*").count()
    check("corpus-stream state rows == stage-3 survivors (hash, shingles)",
      hashRows == n3 && shRows == n3,
      s"hash $hashRows / sh $shRows vs n3 $n3")
    check("corpus-stream band state an exact per-survivor multiple",
      n3 > 0 && bandRows % n3 == 0,
      s"bands $bandRows not a multiple of n3 $n3")
    check("corpus-stream state ∝ curated corpus, NOT stream length " +
        s"(×$copies exact dups collapse to ≤ base survivors)",
      n3 <= nDocs, s"n3 $n3 survivors vs $nDocs base docs " +
        s"(stream carried ${nDocs * copies})")
    // law 3: the registered row's oracle contract at ×copies
    sameSet(s"corpus-stream final report == batch pipeline at ×$copies",
      Dedup.corpusStreamResult(spark, s"$work/cscratch"),
      Dedup.corpusPipeline(spark,
        spark.read.parquet(s"$work/documents.parquet")))
  }

  /** Profile-arm scale contrast (`mode=profile`, run as
    * `runMain graft.StressMain <src> <copies> <work> profile`): the
    * measured evidence behind q_profile_approx's registration — the
    * exact profile's k-way countDistinct Expand shuffles the DISTINCT
    * VALUES of every profiled column (o_orderkey is unique, so exact
    * shuffle grows ∝ corpus), while the HLL arm shuffles k fixed-size
    * sketches per task regardless of corpus size. Blows orders up
    * ×copies with DISJOINT key ranges (o_orderkey/o_custkey shift per
    * copy — distinct counts genuinely scale, the hardest case for both
    * arms) and pins:
    *   1. approx shuffle ≤ 1/10 of exact shuffle AND ≤ 64 MB absolute —
    *      the sketch-bound claim, measured;
    *   2. approx output: 6 rows, n_rows = base ×copies;
    *   3. the HLL error contract at scale: per scaled column the
    *      estimate lands within 4×rsd of the TRUE scaled distinct count
    *      (orderkey/custkey ×copies by construction; status/priority
    *      unchanged).
    */
  private def profileStress(spark: SparkSession, src: String, copies: Int,
      work: String): Unit = {
    val R = graft.operators.Relational
    val o0 = spark.read.parquet(s"$src/orders.parquet")
    val oOff = o0.agg(max("o_orderkey")).head.getLong(0) + 1
    val cOff = o0.agg(max("o_custkey")).head.getLong(0) + 1
    val nRows = o0.count()
    spark.range(0, copies, 1, math.max(32, math.min(copies / 4, 2048)))
      .select(col("id").as("cpy"))
      .crossJoin(broadcast(o0))
      .withColumn("o_orderkey", col("o_orderkey") + col("cpy") * lit(oOff))
      .withColumn("o_custkey", col("o_custkey") + col("cpy") * lit(cOff))
      .drop("cpy")
      .write.mode("overwrite").parquet(s"$work/orders.parquet")
    println(s"STRESS| profile corpus: ${nRows * copies} orders " +
      s"($copies× $src)")
    val blown = spark.read.parquet(s"$work/orders.parquet")
    val (_, exactShuf, _) = timed(s"profile_exact_x$copies", s"$work/out",
      R.profile(blown, R.ordersProfileCols))
    val (_, apShuf, _) = timed(s"profile_approx_x$copies", s"$work/out",
      R.profileApprox(blown, R.ordersProfileCols))
    check(s"approx profile shuffle sketch-bound at ×$copies " +
        "(≤ exact/10 AND ≤ 64 MB)",
      apShuf <= exactShuf / 10 && apShuf <= (64L << 20),
      s"approx ${mb(apShuf)} MB vs exact ${mb(exactShuf)} MB")
    val ap = spark.read.parquet(s"$work/out/profile_approx_x$copies")
      .collect().map(r => r.getAs[String]("col_name") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("nd_approx"))).toMap
    check(s"approx profile 6 rows, n_rows = base ×$copies",
      ap.size == 6 && ap.values.forall(_._1 == nRows * copies),
      s"$ap")
    // true distinct counts at ×copies, by construction of the blow-up
    val baseNd = R.ordersProfileCols.map { case (n, _) =>
      n -> o0.select(n).distinct().count() }.toMap
    val scaled = Set("o_orderkey", "o_custkey")
    for ((n, _) <- R.ordersProfileCols) {
      val truth = baseNd(n) * (if (scaled(n)) copies.toLong else 1L)
      val est = ap(n)._2
      check(s"HLL 4×rsd error contract holds for $n at ×$copies " +
          s"(truth $truth)",
        math.abs(est - truth) <= 4 * 0.05 * truth,
        s"estimate $est vs truth $truth")
    }
  }

  /** Iterative-graph duplication stress (`mode=graph`, run as
    * `runMain graft.StressMain <src> <copies> <work> graph`): the
    * q_pagerank / q_graph_lpa loops at scale, with three EXACT laws the
    * ×copies construction guarantees (PageRank and LPA are round-local —
    * a node's next state depends only on its in-neighborhood — so
    * disjoint components never interact):
    *   1. blow-up law: the stress graph is `copies` disjoint isomorphic
    *      copies of the registered sf trading graph (node `v` ↦ `k#v`),
    *      so the full ×copies rank frame must equal the base frame
    *      cross-joined with the copy ids, bit for bit (the fixed-point
    *      micro-rank arithmetic is IEEE-deterministic per component);
    *   2. hub closed form: ONE planted star component — a hub of degree
    *      1000·copies — rides inside the SAME measured job; by symmetry
    *      every spoke holds one rank and both ranks follow a 2-variable
    *      driver recurrence built from the identical IEEE ops
    *      (⌊r/outdeg+½⌋ contributions, exact long sums, ⌊150000+0.85·Σ+½⌋
    *      updates). The skew point: in-degree 1000·copies concentrates
    *      on one reduce key, and the law still holding bit-exactly while
    *      task metrics stay flat is the measured evidence that the
    *      per-round `groupBy(dst)` partial-aggregates the hub's fan-in
    *      map-side instead of shipping 1000·copies rows to one task;
    *   3. LPA shift equivariance: on the numeric twin graph blown up by
    *      id shift (v ↦ v+k·off), labels shift with the nodes —
    *      lbl(v+k·off) = lbl(v)+k·off — because self-inclusive
    *      mode-voting with smallest-label ties is order-isomorphic under
    *      the shift and copies are disjoint.
    */
  private def graphStress(spark: SparkSession, src: String, copies: Int,
      work: String): Unit = {
    val G = graft.operators.Graph
    val spokes = 1000L * copies
    val parts = math.max(32, math.min(copies / 4, 2048))

    // ---- blown-up trading graph + planted hub star, materialized ------
    val pairs0 = G.tradingPairs(spark, src).localCheckpoint()
    val nPairs = pairs0.count()
    val blown = spark.range(0, copies, 1, parts)
      .select(col("id").cast("string").as("cpy"))
      .crossJoin(broadcast(pairs0))
      .select(concat(col("cpy"), lit("#"), col("src")).as("src"),
        concat(col("cpy"), lit("#"), col("dst")).as("dst"))
    val starUp = spark.range(0, spokes, 1, 32)
      .select(concat(lit("p:"), col("id").cast("string")).as("src"),
        lit("h:0").as("dst"))
    val pairsAll = blown.unionByName(starUp)
    pairsAll
      .unionByName(pairsAll.select(col("dst").as("src"),
        col("src").as("dst")))
      .write.mode("overwrite").parquet(s"$work/graph_edges.parquet")
    println(s"STRESS| graph corpus: ${2 * (nPairs * copies + spokes)} " +
      s"edges ($copies× the $src trading graph [$nPairs pairs] + a " +
      s"degree-$spokes hub star) at $work")

    // ---- timed: the registered 10-round PageRank loop on the blow-up --
    val edgesBig = spark.read.parquet(s"$work/graph_edges.parquet")
    val roundWalls = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    timed(s"pagerank_x$copies", s"$work/out",
      G.pagerank(spark, edgesBig, G.prRounds,
        onRound = (r, w) => roundWalls += ((r, w))))
    roundWalls.foreach { case (r, w) =>
      println(f"STRESS| pagerank round $r%2d: ${w}%7.2f s")
    }
    // the checkpoint/free discipline means round k never re-evaluates
    // rounds < k — per-round wall must stay flat across the loop
    check(s"pagerank per-round wall flat across ${G.prRounds} rounds",
      roundWalls.nonEmpty &&
        roundWalls.last._2 <= roundWalls.head._2 * 4 + 10.0,
      f"first ${roundWalls.head._2}%.1f s → last ${roundWalls.last._2}%.1f s")
    def out(name: String): DataFrame =
      spark.read.parquet(s"$work/out/$name")

    // law 1+2: base-component ranks ∪ the driver-recurrence star, exact
    val baseEdges = pairs0.union(
      pairs0.select(col("dst").as("src"), col("src").as("dst")))
    val baseRanks = G.pagerank(spark, baseEdges, G.prRounds)
      .localCheckpoint()
    val expTrading = spark.range(0, copies, 1, 32)
      .select(col("id").cast("string").as("cpy"))
      .crossJoin(broadcast(baseRanks))
      .select(concat(col("cpy"), lit("#"), col("node")).as("node"),
        col("r"))
    // the star's 2-variable recurrence, op for op the pagerank() column
    // expressions (⌊·+½⌋ floors, long sums, left-assoc double adds)
    var rh = 1000000L
    var rs = 1000000L
    for (_ <- 1 to G.prRounds) {
      val accH = spokes * rs // Σ over spokes of ⌊r_s/1 + ½⌋ = r_s, exact
      val wS = math.floor(rh.toDouble / spokes.toDouble + 0.5).toLong
      val nh = math.floor(150000.0 + 0.85 * accH.toDouble + 0.5).toLong
      val ns = math.floor(150000.0 + 0.85 * wS.toDouble + 0.5).toLong
      rh = nh
      rs = ns
    }
    val expStar = spark.range(0, spokes, 1, 32)
      .select(concat(lit("p:"), col("id").cast("string")).as("node"),
        lit(rs).as("r"))
      .unionByName(spark.range(1)
        .select(lit("h:0").as("node"), lit(rh).as("r")))
    sameSet(s"pagerank ×$copies = disjoint blow-up of sf ranks ∪ " +
        s"closed-form degree-$spokes hub star",
      out(s"pagerank_x$copies"),
      expTrading.unionByName(expStar))

    // ---- timed: 3-round LPA on the shifted numeric twin ---------------
    val np0 = G.tradingPairsNumeric(spark, src).localCheckpoint()
    val off = np0.agg(max(greatest(col("a_id"), col("b_id"))))
      .head.getLong(0) + 1
    spark.range(0, copies, 1, parts).select(col("id").as("cpy"))
      .crossJoin(broadcast(np0))
      .select((col("a_id") + col("cpy") * lit(off)).as("a_id"),
        (col("b_id") + col("cpy") * lit(off)).as("b_id"))
      .write.mode("overwrite").parquet(s"$work/graph_pairs_num.parquet")
    val pairsNum = spark.read.parquet(s"$work/graph_pairs_num.parquet")
    val nodesBig = pairsNum.select(col("a_id").as("v"))
      .union(pairsNum.select(col("b_id").as("v"))).distinct()
    timed(s"graph_lpa_x$copies", s"$work/out",
      graft.operators.Dedup.lpaRounds(nodesBig, pairsNum, 3))

    // law 3: labels shift with the nodes
    val nodes0 = np0.select(col("a_id").as("v"))
      .union(np0.select(col("b_id").as("v"))).distinct()
    val baseLab = graft.operators.Dedup.lpaRounds(nodes0, np0, 3)
      .localCheckpoint()
    sameSet(s"graph_lpa ×$copies labels shift-equivariant " +
        s"(lbl(v+k·off) = lbl(v)+k·off)",
      out(s"graph_lpa_x$copies"),
      spark.range(0, copies, 1, 32).select(col("id").as("cpy"))
        .crossJoin(broadcast(baseLab))
        .select((col("v") + col("cpy") * lit(off)).as("v"),
          (col("lbl") + col("cpy") * lit(off)).as("lbl")))
  }

  /** Streaming-IVF-index duplication stress (`mode=annstream`, run as
    * `runMain graft.StressMain <src> <copies> <work> annstream [chunks]`):
    * the q_stream_ann_index machinery at scale. Blow the embeddings up
    * ×copies (disjoint vec_id ranges, IDENTICAL vectors — copy 0 keeps
    * the lowest range, so batch 0 still carries the frozen-centroid
    * ids), stage a vec_id-ordered chunk feed, drain, and pin:
    *   1. per-batch wall flat as state accumulates — each batch's work
    *      is one scan of the batch against the broadcast frozen
    *      centroids; prior state is never re-derived;
    *   2. the state-dir bound (≤ compactEvery+1 dirs per kind at any
    *      stream age — the corpus stream's compaction grammar reused);
    *   3. the EXACT blow-up law: identical copies assign to identical
    *      buckets (argmax of identical cosines), counts and micro-long
    *      sums scale ×copies together, and every mean/min/drift double
    *      division has the same true rational quotient (products stay
    *      < 2^53, so the scaled operands are exact and IEEE rounds both
    *      sides to the same double) — the stream report must equal the
    *      BASE batch report with n_vecs ×copies, everything else
    *      bit-identical;
    *   4. zero spill — per-bucket partials are k- and k×64-row frames.
    */
  private def annStreamStress(spark: SparkSession, src: String, copies: Int,
      work: String, nChunks: Int): Unit = {
    val Sim = graft.operators.Similarity
    val compactEvery = graft.operators.ChunkStream.CompactEvery
    val embs0 = spark.read.parquet(s"$src/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val vOff = embs0.agg(max("vec_id")).head.getLong(0) + 1
    val nVecs = embs0.count()
    spark.range(0, copies, 1, math.max(32, math.min(copies / 4, 2048)))
      .select(col("id").as("cpy"))
      .crossJoin(broadcast(embs0))
      .withColumn("vec_id", col("vec_id") + col("cpy") * lit(vOff))
      .drop("cpy")
      .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
    println(s"STRESS| annstream corpus: ${nVecs * copies} vectors " +
      s"($copies× $src) at $work, $nChunks micro-batches")
    Sim.stageEmbedFeed(spark, work, nChunks, s"$work/afeed")
    val batchWalls = drainChunkStream(spark, "annstream", nChunks)(
      Sim.startAnnIndexStream(spark, s"$work/afeed", s"$work/ascratch"))
    if (batchWalls.nonEmpty)
      check("annstream per-batch wall flat as state accumulates",
        batchWalls.last._3 <= batchWalls.head._3 * 4 + 10.0,
        f"first ${batchWalls.head._3}%.1f s → " +
          f"last ${batchWalls.last._3}%.1f s")
    for (kind <- Seq("cents", "stats", "dims")) {
      val dirs = Option(
        new java.io.File(s"$work/ascratch/state/$kind").listFiles())
        .getOrElse(Array.empty[java.io.File]).count(_.isDirectory)
      check(s"annstream $kind state dirs bounded by compaction " +
          s"(≤ ${compactEvery + 1} after $nChunks batches)",
        dirs <= compactEvery + 1, s"$dirs dirs")
    }
    check(s"annstream zero spill at ×$copies", spill.get == 0,
      s"spill ${mb(spill.get)} MB")
    val got = Sim.annIndexStreamResult(spark, s"$work/ascratch")
    val expect = Sim.annIndexBatchReport(spark, src)
      .withColumn("n_vecs", col("n_vecs") * copies)
    sameSet(s"annstream report == base batch report with n_vecs ×$copies",
      got, expect)
  }

  private def streamStress(spark: SparkSession, src: String, copies: Int,
      work: String): Unit = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import graft.streaming.Streams
    import graft.streaming.Streams.Ev

    val ev0 = Tables(spark, src, "events")
    val uOff = ev0.agg(max("user_id")).head.getLong(0) + 1
    val eOff = ev0.agg(max("event_id")).head.getLong(0) + 1
    val nEv = ev0.count()
    val nUsers = ev0.select("user_id").distinct().count()
    (0 until copies).map(k => ev0
        .withColumn("user_id", col("user_id") + lit(k * uOff))
        .withColumn("event_id", col("event_id") + lit(k * eOff)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$work/x$copies/events.parquet")
    println(s"STRESS| stream corpus: ${nEv * copies} events, " +
      s"${nUsers * copies} users ($copies× $src)")
    def q(name: String, dir: String): DataFrame =
      SparkEntry.queries(name)(spark, dir)

    // batch twin on the same corpus — the comparison target
    timed(s"q_sessionize_x$copies", s"$work/out",
      q("q_sessionize", s"$work/x$copies"))
    val batch = spark.read.parquet(s"$work/out/q_sessionize_x$copies")

    // ---- stage the feed: ts-range chunks, one parquet file each ----------
    val evs = spark.read.parquet(s"$work/x$copies/events.parquet")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
    val mm = evs.agg(min("ts_us"), max("ts_us")).head
    val minUs = mm.getLong(0)
    val maxUs = mm.getLong(1)
    val nChunks = 24
    val span = (maxUs - minUs) / nChunks + 1
    val stage = s"$work/feed_stage"
    evs.withColumn("chunk",
        ((col("ts_us") - lit(minUs)) / lit(span)).cast("int"))
      .repartition(nChunks, col("chunk"))
      .write.mode("overwrite").partitionBy("chunk").parquet(stage)
    val feed = new java.io.File(s"$work/feed")
    org.apache.commons.io.FileUtils.deleteQuietly(feed)
    feed.mkdirs()
    val t0ms = System.currentTimeMillis() - 3600000L
    def moveChunk(k: Int): Unit = {
      val dir = new java.io.File(s"$stage/chunk=$k")
      val parts = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
      parts.zipWithIndex.foreach { case (f, i) =>
        val to = new java.io.File(feed, f"b$k%03d-$i.parquet")
        java.nio.file.Files.move(f.toPath, to.toPath)
        to.setLastModified(t0ms + k * 1000L)
      }
    }
    // sentinel: one far-future event per DISTINCT user (covers every open
    // session), staged now and moved in after the last chunk
    evs.select(col("user_id")).distinct()
      .select(col("user_id"), lit(maxUs + 10 * Streams.GapUs).as("ts_us"),
        lit(Long.MaxValue).as("event_id"))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$work/sentinel_stage")
    def moveSentinel(): Unit = Option(
        new java.io.File(s"$work/sentinel_stage").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        val to = new java.io.File(feed, s"zz-sentinel-$i.parquet")
        java.nio.file.Files.move(f.toPath, to.toPath)
        to.setLastModified(t0ms + nChunks * 1000L)
      }

    // ---- drive the stream on RocksDB state, with a mid-feed restart ------
    // The feed arrives in two phases with a full query STOP between them:
    // phase 1 sees the first half of the chunks, then the query is torn
    // down and a new one recovers from the checkpoint — RocksDB state
    // (every session open at the cut, including all sessions that SPAN
    // the restart boundary) must be restored for the final output to
    // match the batch twin. The parquet sink + checkpoint pair is Spark's
    // exactly-once contract; the multiset equality below proves it held.
    spark.conf.set(Streams.RocksDbProvider._1, Streams.RocksDbProvider._2)
    val sessDir = s"$work/stream_sessions"
    val ckpt = new java.io.File(s"$work/ckpt_stream")
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(sessDir))
    def drive(): (Long, Int, Boolean) = {
      val sq = Streams.sessionize(spark.readStream
          .schema("user_id BIGINT, ts_us BIGINT, event_id BIGINT")
          .option("maxFilesPerTrigger", "1")
          .parquet(feed.toString)
          .as[Ev]).writeStream
        .format("parquet").option("path", sessDir)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try {
        sq.processAllAvailable()
        val progress = sq.recentProgress.flatMap(_.stateOperators)
        val rocks = progress.exists(_.customMetrics.keySet.asScala
          .exists(_.contains("rocksdb")))
        val peakState =
          if (progress.isEmpty) 0L else progress.map(_.numRowsTotal).max
        (peakState, sq.recentProgress.count(_.numInputRows > 0), rocks)
      } finally sq.stop()
    }
    val half = nChunks / 2
    val t0 = System.nanoTime()
    (0 until half).foreach(moveChunk)
    val (peak1, batches1, rocks1) = drive()
    println(f"STRESS| phase 1 stopped after $batches1 micro-batches, " +
      f"state at cut ≈ $peak1 rows — restarting from checkpoint")
    (half until nChunks).foreach(moveChunk)
    moveSentinel()
    val (peak2, batches2, rocks2) = drive()
    spark.conf.unset(Streams.RocksDbProvider._1)
    val secs = (System.nanoTime() - t0) / 1e9
    val peakState = math.max(peak1, peak2)
    val nBatches = batches1 + batches2
    check("stream sessionize ran on RocksDB state store (both phases)",
      rocks1 && rocks2, s"rocksdb metrics phase1=$rocks1 phase2=$rocks2")
    check(s"feed really chunked into micro-batches (≥ $nChunks)",
      nBatches >= nChunks, s"only $nBatches non-empty micro-batches")
    println(f"STRESS| stream_sessionize_x$copies $secs%8.2f s  " +
      f"peakState $peakState%9d rows  " +
      f"(${nEv * copies} events, ${nUsers * copies} users, " +
      f"$nBatches batches, restart after $batches1)")
    check("stream state bounded by users, not events",
      peakState <= nUsers * copies,
      s"$peakState state rows > ${nUsers * copies} users")
    check("restart really recovered live state (sessions span the cut)",
      peak1 > 0, "phase 1 ended with empty state")
    val got = spark.read.parquet(sessDir)
      .select(col("user_id"), col("n_events"), col("start_us"),
        col("end_us"))
    sameSet(s"stream sessionize (with mid-feed restart) = batch " +
      s"q_sessionize at ×$copies",
      got, batch.select(col("user_id"), col("n_events"), col("start_us"),
        col("end_us")))
  }

  /** The r15 sharded-prefix-sum arms measured against their window
    * reference arms at tier (mode=prefix, default ×1000 = 5M docs).
    *
    * The window arms are the one remaining single-task class the r14
    * verdict flagged: q_curriculum's global-order ntile sorts the WHOLE
    * corpus through one task, q_sample_budget / q_seq_pack serialize a
    * full source's history each. The sharded arms (PrefixSum.shardedPrior)
    * must (a) stay EXACTLY equal to the window arms at blown-up corpora —
    * the offsets + shard-local-window decomposition is only correct if the
    * order-prefix invariants hold under id blow-up — and (b) keep the
    * bounded-task resource shape the plan promises: shuffle linear over a
    * tier decade, zero spill, peak within the two-regime bound. The window
    * arms' peaks/walls print alongside as the serialization evidence (no
    * hard law: a single in-memory sort is legal at test tiers — the defect
    * it demonstrates is the shape, measured here, not the small-SF wall).
    */
  /** Blow a documents table up ×c with disjoint doc_id ranges per copy.
    * The RANGE is the distributed side and the table broadcasts (the
    * StreamKillMain.buildCorpus recipe — r15 ADVICE): the source table is
    * one scan partition at sf0.1, so a table-side crossJoin funnels every
    * generated row through that one task; range ⨯ broadcast(table) makes
    * generation parallelism ∝ copies. No post-hoc repartition — each of
    * the range's partitions writes its own similar-sized file, and a
    * full-corpus reshuffle at ×10000 is exactly the disk bill this
    * generator must not pay. (crossJoin, not a c-way unionByName reduce:
    * the union builds a c-node plan — minutes of analysis at ×1000.) */
  private def blowUpDocs(spark: SparkSession, docs0: DataFrame, dOff: Long,
      c: Int, dest: String): Unit =
    spark.range(0, c, 1, math.max(32, math.min(c / 4, 2048)))
      .select(col("id").as("cpy"))
      .crossJoin(broadcast(docs0))
      .withColumn("doc_id", col("doc_id") + col("cpy") * lit(dOff))
      .drop("cpy")
      .write.mode("overwrite").parquet(dest)

  /** Batch incremental-dedup duplication stress (`mode=incr`, run as
    * `runMain graft.StressMain <src> <copies> <work> incr`): the r18 fix
    * applied the streaming twin's exact-first representative restriction
    * to [[graft.operators.Dedup.incrementalDedup]] — the r17 ×10000
    * corpus stream measured the unrestricted quadratic live (>69 GB
    * spill, ENOSPC at ~156 copies/text). This mode is the batch arm's
    * own scale point: a ×copies EXACT-duplication batch (every sf0.1
    * batch text duplicated ×copies with disjoint id ranges) against the
    * unchanged corpus.
    *
    * Laws:
    *  1. verdict exactness at scale: the ×copies verdicts ARE the ×1
    *     reference verdicts blown up — copy-0 rows identical (reps are
    *     the min ids, so copy 0 is the rep set and its first_id/near
    *     flags never see the copies), copy-k rows all dropped with
    *     reason exact_corpus if the ×1 reason was exact_corpus (the
    *     in_corpus flag outranks exact_batch) else exact_batch;
    *  2. spill bounded: shingle/minhash/banding run on the ~nB
    *     representatives regardless of copies, so the near-dup stage's
    *     memory never scales with the duplication factor — the
    *     unrestricted form's candidate fan-out (C(copies,2) per text per
    *     band) is exactly what the restriction removes. */
  private def incrDedupStress(spark: SparkSession, src: String, copies: Int,
      work: String): Unit = {
    val docs0 = spark.read.parquet(s"$src/documents.parquet")
      .select("doc_id", "text")
    val dOff = docs0.agg(max("doc_id")).head.getLong(0) + 1
    val batch0 = docs0.filter(col("doc_id") % 5 === 0).localCheckpoint()
    val corpus = docs0.filter(col("doc_id") % 5 =!= 0)
    val nB = batch0.count()
    blowUpDocs(spark, batch0, dOff, copies, s"$work/batch.parquet")
    println(s"STRESS| incr batch: ${nB * copies} rows " +
      s"(×$copies duplication of $nB texts), corpus ${corpus.count()} docs")
    val batch = spark.read.parquet(s"$work/batch.parquet")
    timed(s"incr_dedup_x$copies", s"$work/out",
      operators.Dedup.incrementalDedup(spark, batch, corpus))
    val sp = spill.get
    // ×1 reference + its exact blow-up (law 1's derivation)
    val ref = operators.Dedup.incrementalDedup(spark, batch0, corpus)
      .localCheckpoint()
    val copyIdx = spark.range(1, copies).select(col("id").as("k"))
    val expect = ref.unionByName(
      copyIdx.crossJoin(broadcast(ref)).select(
        (col("doc_id") + col("k") * dOff).as("doc_id"),
        lit(false).as("keep"),
        when(col("reason") === "exact_corpus", "exact_corpus")
          .otherwise("exact_batch").as("reason")))
    sameSet(s"incremental verdicts = ×1 reference blow-up at ×$copies",
      spark.read.parquet(s"$work/out/incr_dedup_x$copies"), expect)
    // the restricted near-dup stage is O(reps); the bound is generous
    // (the final global orderBy of nB·copies skinny verdict rows may
    // legitimately sort-spill) but rejects the quadratic outright: the
    // unrestricted form's streaming twin spilled >69 GB at ×156.
    check(s"spill bounded at ×$copies duplication (exact-first reps)",
      sp <= (4L << 30), s"spill ${mb(sp)} MB")
  }

  private def prefixStress(spark: SparkSession, src: String, copies: Int,
      work: String): Unit = {
    val docs0 = spark.read.parquet(s"$src/documents.parquet")
    val dOff = docs0.agg(max("doc_id")).head.getLong(0) + 1
    val nDocs = docs0.count()
    val lo = math.max(copies / 10, 1)
    def build(c: Int, dir: String): Unit =
      blowUpDocs(spark, docs0, dOff, c, s"$dir/documents.parquet")
    build(lo, s"$work/x$lo")
    build(copies, s"$work/x$copies")
    println(s"STRESS| prefix corpora: ${nDocs * lo} docs at ×$lo, " +
      s"${nDocs * copies} docs at ×$copies ($src)")
    def q(name: String, dir: String): DataFrame =
      SparkEntry.queries(name)(spark, dir)
    def out(name: String): DataFrame =
      spark.read.parquet(s"$work/out/$name")
    val pairs = Seq(
      "q_sample_budget" -> "q_sample_budget_shard",
      "q_seq_pack" -> "q_seq_pack_shard",
      "q_curriculum" -> "q_curriculum_hist")
    // hi tier runs with shuffle partitions ∝ corpus (the embedStress
    // discipline) so the sharded arms' per-task volume matches the lo
    // tier — the configuration a large cluster actually runs. The window
    // arms are partitioning-immune by construction (one task per group
    // regardless), which is exactly the defect on display.
    val pKey = "spark.sql.shuffle.partitions"
    val pBase = spark.conf.get(pKey)
    val metrics = scala.collection.mutable.Map[String, (Long, Long, Double, Long)]()
    for (c <- Seq(lo, copies)) {
      if (c == copies)
        spark.conf.set(pKey,
          (pBase.toInt * (copies.toDouble / lo)).toInt.toString)
      try {
        for ((win, sh) <- pairs; n <- Seq(win, sh)) {
          val (p, s, w) = timed(s"${n}_x$c", s"$work/out", q(n, s"$work/x$c"))
          metrics(s"${n}_x$c") = (p, s, w, spill.get)
        }
      } finally if (c == copies) spark.conf.set(pKey, pBase)
      for ((win, sh) <- pairs)
        sameSet(s"$sh == $win at ×$c (sharded prior exact under blow-up)",
          out(s"${sh}_x$c"), out(s"${win}_x$c"))
    }
    val step = copies.toDouble / lo
    val fairShare = (Runtime.getRuntime.maxMemory * 0.6 /
      spark.sparkContext.defaultParallelism * 1.5).toLong
    for ((_, sh) <- pairs) {
      val (pLo, sLo, _, _) = metrics(s"${sh}_x$lo")
      val (pHi, sHi, _, spHi) = metrics(s"${sh}_x$copies")
      val ratio = sHi.toDouble / math.max(sLo, 1L)
      // lower bound 0.5×step (vs textStress's 0.6): the sharded arms
      // carry corpus-size-INDEPENDENT shuffle terms — the shard
      // histogram/offset frames are (groups × shards) rows at BOTH
      // tiers — whose fixed bytes dilute the measured ratio below
      // linear at the hi tier, on top of the hi tier's ∝-scaled
      // shuffle-partition count changing per-block compression framing
      // (r15 ADVICE: slack documented, not accidental)
      check(f"$sh shuffle bytes scale ~linearly (×$lo→×$copies)",
        ratio >= step * 0.5 && ratio <= step * 1.5,
        f"shufW ratio $ratio%.2f vs step $step%.0f " +
          s"(${mb(sLo)} MB → ${mb(sHi)} MB)")
      check(s"$sh zero spill at ×$copies", spHi == 0, s"${mb(spHi)} MB spilled")
      check(s"$sh peak ≤ max(2× lo tier, pool fair share) (×$lo→×$copies)",
        pHi <= math.max(math.max(pLo, 64L << 20) * 2, fairShare),
        s"peak ${mb(pHi)} MB vs ${mb(pLo)} MB at ×$lo, " +
          s"fair share ${mb(fairShare)} MB")
    }
    for ((win, sh) <- pairs)
      println(s"STRESS| single-task evidence ×$copies: $win peak " +
        s"${mb(metrics(s"${win}_x$copies")._1)} MB / " +
        f"${metrics(s"${win}_x$copies")._3}%.1f s vs $sh peak " +
        s"${mb(metrics(s"${sh}_x$copies")._1)} MB / " +
        f"${metrics(s"${sh}_x$copies")._3}%.1f s")
  }

  /** `only` selects one text op per JVM for the ≥×10000 tier, where the
    * family's combined live shuffle exceeds a single box's disk (r15:
    * the postings build ALONE needs ~100 GB at ×10000) — running each op
    * in its own process reclaims shuffle/scratch between ops, so the ops
    * that individually fit can still be measured. Values: all | index |
    * substring | span | pipeline. Each selection runs the op's tiers AND
    * every law that only needs that op; cross-op laws (none currently —
    * sharded==unsharded is index-internal) would need mode=all. */
  private def textStress(spark: SparkSession, src: String, copies: Int,
      work: String, only: String = "all"): Unit = {
    require(Set("all", "index", "substring", "span", "pipeline")(only),
      s"unknown text op selector: $only")
    def sel(op: String): Boolean = only == "all" || only == op
    val docs0 = spark.read.parquet(s"$src/documents.parquet")
    val dOff = docs0.agg(max("doc_id")).head.getLong(0) + 1
    val nDocs = docs0.count()
    val lo = math.max(copies / 10, 1)
    def build(c: Int, dir: String): Unit =
      blowUpDocs(spark, docs0, dOff, c, s"$dir/documents.parquet")
    // span_cut runs at the hi tier only; skip the lo corpus for it
    if (sel("index") || sel("substring") || sel("pipeline"))
      build(lo, s"$work/x$lo")
    build(copies, s"$work/x$copies")
    println(s"STRESS| text corpora: ${nDocs * lo} docs at ×$lo, " +
      s"${nDocs * copies} docs at ×$copies ($src)")
    def q(name: String, dir: String): DataFrame =
      SparkEntry.queries(name)(spark, dir)
    def out(name: String): DataFrame =
      spark.read.parquet(s"$work/out/$name")
    // The UNSHARDED index has a designed ceiling: its per-term postings
    // buffer is a collect_list of size df, and at ×1000 (5M docs) the
    // top term's df is the corpus — a multi-GB single aggregation group
    // that OOMs by construction (measured: heap death in Collect.merge
    // on the first ×1000 attempt). That ceiling is exactly why the
    // SHARDED arm exists (first-level width fixed at 128 docs), so past
    // ×100 only the sharded arm runs at the hi tier and the
    // sharded==unsharded set equality holds at the lo tier instead.
    val unshardedHi = copies <= 100
    val names =
      (if (sel("index"))
         Seq("q_inverted_index", "q_inverted_index_shard") else Nil) ++
      (if (sel("substring")) Seq("q_substring_dup") else Nil)
    // the unsharded arm's ceiling gates the LO tier too: at copies=10000
    // the lo tier IS ×1000, where the df-sized collect buffer OOMs by
    // design — the sharded==unsharded equality then stands on its ≤×100
    // records instead of re-proving here
    val unshardedLo = lo <= 100
    val mLo = names
      .filter(n => unshardedLo || n != "q_inverted_index").map(n =>
        n -> timed(s"${n}_x$lo", s"$work/out", q(n, s"$work/x$lo"))).toMap
    // hi tier runs with shuffle partitions ∝ corpus (the embedStress
    // discipline): per-task shuffle volume then matches the lo tier,
    // which is the configuration a 1000-executor cluster actually runs —
    // with partitions FIXED the per-task sort input grows ×step and the
    // peak law measures the harness, not the operator (observed: the
    // ×1000 substring peak 5× from exactly this).
    val pKeyT = "spark.sql.shuffle.partitions"
    val pBaseT = spark.conf.get(pKeyT)
    spark.conf.set(pKeyT,
      (pBaseT.toInt * (copies.toDouble / lo)).toInt.toString)
    // finally: a failed hi-tier run must not leave the session at 10×
    // partitions for every later query in this JVM
    val mHi =
      try names
        .filter(n => unshardedHi || n != "q_inverted_index").map(n =>
          n -> timed(s"${n}_x$copies", s"$work/out",
            q(n, s"$work/x$copies")))
        .toMap
      finally spark.conf.set(pKeyT, pBaseT)

    // ---- correctness laws at ×copies (same laws as the 10× suite) --------
    if (sel("index")) {
      if (unshardedLo) sameSet(s"sharded index = unsharded index at ×$lo",
        out(s"q_inverted_index_shard_x$lo"),
        out(s"q_inverted_index_x$lo"))
      if (unshardedHi)
        sameSet(s"sharded index = unsharded index at ×$copies",
          out(s"q_inverted_index_shard_x$copies"),
          out(s"q_inverted_index_x$copies"))
      // df/cf scaling pinned on whichever arm runs at the hi tier (the
      // sharded arm equals the unsharded one by the lo-tier law)
      val hiIndex =
        if (unshardedHi) s"q_inverted_index_x$copies"
        else s"q_inverted_index_shard_x$copies"
      sameSet(s"inverted index df/cf = sf0.1 ×$copies",
        out(hiIndex).select(col("term"),
          (col("df") / copies).cast("long").as("df"),
          (col("cf") / copies).cast("long").as("cf")),
        q("q_inverted_index", src).select(
          col("term"), col("df"), col("cf")))
    }
    if (sel("substring")) {
      val subHi = out(s"q_substring_dup_x$copies")
      check(s"q_substring_dup ×$copies: every doc fully duplicated",
        subHi.filter(col("dup_fraction") =!= 1.0).count() == 0,
        "docs with dup_fraction < 1 exist")
      sameSet(
        s"q_substring_dup window counts preserved per copy at ×$copies",
        subHi.select((col("doc_id") % dOff).as("doc_id"), col("n_windows"))
          .distinct(),
        q("q_substring_dup", src).select("doc_id", "n_windows"))
    }
    // span-cut law at ×copies: every ≥10-token doc's windows are all
    // cross-doc duplicated (its exact copies exist), so the rewrite cuts
    // it to ZERO tokens; <10-token docs emit no windows and stay intact
    if (sel("span")) {
      timed(s"q_dedup_span_cut_x$copies", s"$work/out",
        q("q_dedup_span_cut", s"$work/x$copies"))
      val spanHi = out(s"q_dedup_span_cut_x$copies")
      check(s"q_dedup_span_cut ×$copies: long docs fully cut, short intact",
        spanHi.filter(
          (col("n_tokens") >= 10 && col("n_kept") =!= 0L) ||
            (col("n_tokens") < 10 && col("n_kept") =!= col("n_tokens")))
          .count() == 0,
        "docs violating the full-duplication rewrite law exist")
    }

    // ---- metric laws over the 10× step taken at the 100× point -----------
    // tolerance [0.6, 1.5]×step: shuffle compression ratios and AQE
    // partition coalescing move the constant (measured 1.00–1.30× at
    // ×10→×100); the law being guarded is LINEAR vs the ×step² of an
    // accidental cross-product or re-read, far outside the band
    val step = copies.toDouble / lo
    for (n <- Seq("q_inverted_index_shard", "q_substring_dup")
        if mLo.contains(n) && mHi.contains(n)) {
      val sLo = mLo(n)._2; val sHi = mHi(n)._2
      val ratio = sHi.toDouble / math.max(sLo, 1L)
      check(f"$n shuffle bytes scale ~linearly (×$lo→×$copies)",
        ratio >= step * 0.6 && ratio <= step * 1.5,
        f"shufW ratio $ratio%.2f vs step $step%.0f " +
          s"(${mb(sLo)} MB → ${mb(sHi)} MB)")
    }
    if (sel("substring")) {
    val pLo = mLo("q_substring_dup")._1; val pHi = mHi("q_substring_dup")._1
    // Two-regime bound: at small decades peak tracks the lo tier (≤ 2×);
    // at sort-heavy decades the unified memory manager lets each task
    // opportunistically grab up to its fair share of the execution pool
    // before spilling, so the observable peak rises toward that share
    // under pressure WITHOUT any operator defect (×1000 measured 575 MB,
    // zero spill — the sort simply used what the pool offered). The
    // defect signal is UNMANAGED state exceeding the share (the kNN
    // occupancy-floor case measured 3.9 GB against a ~1.3 GB share and
    // fails this bound correctly).
    val fairShare = (Runtime.getRuntime.maxMemory * 0.6 /
      spark.sparkContext.defaultParallelism * 1.5).toLong
    check(s"q_substring_dup peak ≤ max(2× lo tier, pool fair share) " +
      s"(×$lo→×$copies)",
      pHi <= math.max(math.max(pLo, 64L << 20) * 2, fairShare),
      s"peak ${mb(pHi)} MB at ×$copies vs ${mb(pLo)} MB at ×$lo, " +
        s"fair share ${mb(fairShare)} MB")
    }
    if (sel("index"))
      println(s"STRESS| postings-buffer evidence: unsharded peak " +
        (if (unshardedLo) s"${mb(mLo("q_inverted_index")._1)} MB at ×$lo → "
         else s"OOM-by-design at ×$lo already → ") +
        (if (unshardedHi)
           s"${mb(mHi("q_inverted_index")._1)} MB at ×$copies"
         else s"OOM-by-design past ×100 (df-sized collect buffer)") +
        s", sharded first-level width " +
        s"fixed at 128 docs (second-level assembly per oracle contract): " +
        s"${mb(mLo("q_inverted_index_shard")._1)} → " +
        s"${mb(mHi("q_inverted_index_shard")._1)} MB")

    // ---- the composed corpus pipeline at ×copies -------------------------
    // The flagship composition under the blow-up law: the per-doc gates
    // (input/minlen/quality) scale ×copies exactly, and the exact-dedup
    // stage collapses every copy family to its min-id member — the BASE
    // corpus with its original ids — so every later stage (the LSH
    // near-dup chain, the token budget) is IDENTICAL to the sf0.1 run:
    // the expensive shingle/minhash work never sees the blown-up corpus.
    // The whole attrition table is therefore derivable from the base run
    // and asserted exactly; wall time should grow only with the scans.
    if (sel("pipeline")) {
    val baseAttrition = q("q_corpus_pipeline", src).collect()
      .map(r => r.getAs[Int]("stage_ord") ->
        (r.getAs[String]("stage"), r.getAs[Long]("n_docs"))).toMap
    for (c <- Seq(lo, copies)) {
      // the hi tier runs under the same partitions-∝-corpus discipline as
      // the other hi-tier ops: with partitions FIXED the per-task sort
      // input grows ×step and the spill measures the harness, not the
      // operator (×10000 measured 17.2 GB spill at 32 partitions vs the
      // scaled configuration a 1000-executor cluster actually runs)
      val scaled = c == copies && copies > lo
      if (scaled) spark.conf.set(pKeyT,
        (pBaseT.toInt * (copies.toDouble / lo)).toInt.toString)
      try timed(s"q_corpus_pipeline_x$c", s"$work/out",
        q("q_corpus_pipeline", s"$work/x$c"))
      finally if (scaled) spark.conf.set(pKeyT, pBaseT)
      val got = out(s"q_corpus_pipeline_x$c").collect()
        .map(r => r.getAs[Int]("stage_ord") ->
          (r.getAs[String]("stage"), r.getAs[Long]("n_docs"))).toMap
      val want = baseAttrition.map { case (ord, (name, n)) =>
        ord -> (name, if (ord <= 2) n * c else n)
      }
      check(s"corpus pipeline attrition derivable from base at ×$c",
        got == want, s"got $got, want $want")
    }
    }
  }
}
