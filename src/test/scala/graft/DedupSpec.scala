package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Behavioral tests for the dedup queries over a corpus with PLANTED
  * duplicates (the driver testdata's duplicates are incidental; here the
  * ground truth is constructed).
  */
class DedupSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  /** Write a documents.parquet with known exact and near duplicates and
    * return the directory (the query surface reads `$dir/documents.parquet`).
    */
  private lazy val dir: String = {
    val s = spark
    import s.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      // exact duplicate pair (0, 1); 2 is a near-dup of 0 (one word changed)
      (0L, base, "en", "src0", base.length.toLong),
      (1L, base, "en", "src0", base.length.toLong),
      (2L, base.replace("sigma", "SIGMA2"), "en", "src1",
        base.length.toLong),
      // unrelated documents
      (3L, "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen fifteen", "en", "src1", 80L),
      (4L, "completely different content with nothing shared at all " +
        "whatsoever in any shingle of three", "en", "src2", 90L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = Files.createTempDirectory("graft-dedup").toString
    docs.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$d/documents.parquet")
    d
  }

  test("exact dedup groups identical texts under one survivor") {
    val rows = SparkEntry.queries("q_dedup_exact")(spark, dir).collect()
    assert(rows.length == 4) // 5 docs, one exact-dup pair
    val dupGroup = rows.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dupGroup.getAs[Long]("keep_id") == 0L)
  }

  test("soft dedup downweights each copy by its cluster size") {
    // docs 0 and 1 are the planted exact pair (weight 1/2); 2-4 unique.
    // The near-dup of doc 0 (doc 2) must NOT be downweighted — soft dedup
    // is exact-hash semantics, the near-dup arm is q_dedup_minhash's.
    val rows = SparkEntry.queries("q_soft_dedup")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_copies"), r.getAs[Long]("n_words"),
          r.getAs[Long]("weight_ppm"), r.getAs[Long]("eff_tokens_micro")))
      .toMap
    assert(rows.keySet == Set(0L, 1L, 2L, 3L, 4L))
    for (d <- Seq(0L, 1L)) {
      assert(rows(d)._1 == 2L && rows(d)._3 == 500000L,
        s"dup copy $d: ${rows(d)}")
      assert(rows(d)._4 == rows(d)._2 * 500000L)
    }
    for (d <- Seq(2L, 3L, 4L)) {
      assert(rows(d)._1 == 1L && rows(d)._3 == 1000000L,
        s"unique doc $d: ${rows(d)}")
      assert(rows(d)._4 == rows(d)._2 * 1000000L)
    }
    // the corpus-level accounting the op exists for: effective tokens ==
    // one cluster share per copy, exactly (no float drift)
    val eff = rows.values.map(_._4).sum
    val want = rows.values.map(v => v._2 * 1000000L / v._1).sum
    assert(eff == want)
  }

  test("ngram novelty credits each window to the name-first source") {
    // Independent recomputation on window STRINGS (md5 is injective on
    // distinct windows, so novelty over strings == novelty over hashes):
    // src0 carries docs 0/1 (identical), src1 docs 2/3 (doc 2 a near-dup
    // of src0's text), src2 doc 4 (disjoint vocabulary).
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val perSource = corpus.groupBy(_._1).view.mapValues(_.flatMap {
      case (_, text) =>
        val toks = text.split(" ")
        toks.sliding(5).filter(_.length == 5).map(_.mkString(" "))
    }.toSet).toMap
    val claimed = perSource.toSeq.flatMap { case (src, whs) =>
      whs.map(wh => (wh, src))
    }.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val want = perSource.map { case (src, whs) =>
      val novel = whs.count(claimed(_) == src).toLong
      (src, (whs.size.toLong, novel,
        (BigInt(novel) * 1000000 / whs.size).toLong))
    }
    val got = SparkEntry.queries("q_ngram_novelty")(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          r.getAs[Long]("novelty_ppm"))).toMap
    assert(got == want, s"got $got\nwant $want")
    // the fixture exercises the interesting branch: src1 shares windows
    // with the name-earlier src0, so its novelty is strictly partial
    assert(got("src0")._3 == 1000000L)
    assert(got("src1")._3 > 0L && got("src1")._3 < 1000000L,
      s"src1 novelty ${got("src1")._3} not strictly partial — the " +
        "planted near-dup overlap is not exercising the claim pass")
    assert(got("src2")._3 == 1000000L)
  }

  test("minhash LSH finds the planted exact and near pairs, nothing else") {
    val rows = SparkEntry.queries("q_dedup_minhash")(spark, dir)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("jac")))
    val pairs = rows.map(p => (p._1, p._2)).toSet
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L)))
    // exact pair has jaccard 1.0; near pair strictly between 0.5 and 1
    assert(rows.find(p => (p._1, p._2) == (0L, 1L)).get._3 == 1.0)
    val near = rows.find(p => (p._1, p._2) == (0L, 2L)).get._3
    assert(near >= 0.5 && near < 1.0)
  }

  test("simhash: identical texts get identical signatures, near-dups close") {
    val rows = SparkEntry.queries("q_dedup_simhash")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash"))
      .toMap
    assert(rows(0L) == rows(1L))
    def popcount(x: Long): Int = java.lang.Long.bitCount(x)
    val dNear = popcount(rows(0L) ^ rows(2L))
    val dFar = popcount(rows(0L) ^ rows(4L))
    assert(dNear < dFar,
      s"near-dup hamming $dNear not below unrelated $dFar")
  }

  test("murmur128 matches Guava's murmur3_128 on every block/tail path") {
    // the minhash base hasher is hand-rolled (no oracle sees it, so a
    // broken tail path would only show as silent recall loss) — pin it
    // byte-identical to the reference implementation on the classpath,
    // covering lengths 0..64 (all 16 tail lengths × block counts 0..4)
    val rnd = new scala.util.Random(7)
    for (len <- 0 to 64; _ <- 1 to 4) {
      val data = new Array[Byte](len)
      rnd.nextBytes(data)
      val (h1, h2) = graft.operators.Dedup.murmur128(data)
      val bb = java.nio.ByteBuffer
        .wrap(com.google.common.hash.Hashing.murmur3_128().hashBytes(data)
          .asBytes())
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      assert((h1, h2) == (bb.getLong(0), bb.getLong(8)),
        s"murmur128 diverges from Guava at length $len")
    }
  }

  test("incremental dedup drops a batch doc whose copy is in the corpus") {
    // planted corpus under the doc_id % 5 split: batch = {doc 0}, corpus =
    // {1..4}; doc 0 is a verbatim copy of corpus doc 1 → exact_corpus drop
    val rows = SparkEntry.queries("q_dedup_incremental")(spark, dir).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("doc_id") == 0L)
    assert(!rows(0).getAs[Boolean]("keep"))
    assert(rows(0).getAs[String]("reason") == "exact_corpus")
  }

  test("substring-dup flags shared 10-token spans, not unique docs") {
    // docs 0/1 are verbatim copies (every window shared → fraction 1.0);
    // doc 2 differs in ONE token near the end, so exactly its windows not
    // covering that token are duplicated (8 of 11); docs 3/4 are unique
    val rows = SparkEntry.queries("q_substring_dup")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("dup_fraction")).toMap
    assert(rows(0L) == 1.0 && rows(1L) == 1.0)
    assert(rows(2L) > 0.5 && rows(2L) < 1.0,
      s"near-dup doc should be partially duplicated, got ${rows(2L)}")
    assert(rows(3L) == 0.0 && rows(4L) == 0.0)
  }

  test("star connected components agree with min-label propagation") {
    val s = spark
    import s.implicits._
    // random-ish sparse graph: several components of varying shape
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), // path
      (10L, 11L), (11L, 12L), (12L, 10L), // triangle
      (20L, 21L), // edge
      (30L, 31L), (30L, 32L), (30L, 33L), (33L, 34L) // star + tail
    ).toDF("a_id", "b_id")
    def labelsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val minLabel = labelsOf(Dedup.connectedComponents(pairs))
    val star = labelsOf(Dedup.connectedComponentsStar(pairs))
    assert(star == minLabel)
  }

  test("reliable-checkpoint CC produces identical labels to the local path") {
    // checkpointEvery = Some(2): rounds 0, 2, 4… go through a durable
    // Dataset.checkpoint (recoverable after executor loss), the rounds in
    // between keep lineage via persist. Labels must be bit-identical to
    // the localCheckpoint default on BOTH algorithms — durability is an
    // execution property, never a semantic one. The graph mixes a path
    // (multi-round propagation, so odd/even rounds both occur), a
    // triangle, and singleton-adjacent stars.
    val s = spark
    import s.implicits._
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (20L, 22L)
    ).toDF("a_id", "b_id")
    def labelsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelsOf(Dedup.connectedComponents(pairs, Some(2))) ==
      labelsOf(Dedup.connectedComponents(pairs)))
    assert(labelsOf(Dedup.connectedComponentsStar(pairs, Some(2))) ==
      labelsOf(Dedup.connectedComponentsStar(pairs)))
    // the durable rounds really did land in the checkpoint dir
    val dir = s.sparkContext.getCheckpointDir
    assert(dir.isDefined, "no checkpoint dir was set")
    val root = java.nio.file.Paths.get(new java.net.URI(dir.get).getPath)
    val files = scala.util.Using.resource(java.nio.file.Files.walk(root)) {
      _.filter(p => p.getFileName.toString.startsWith("part-")).count()
    }
    assert(files > 0, s"no checkpoint data written under ${dir.get}")
  }

  test("Materialize.free drops localCheckpoint blocks (unpersist cannot)") {
    // the iteration loops rely on this: Dataset.unpersist only uncaches
    // CacheManager entries, and a checkpointed plan was never registered
    // there — the underlying RDD is what holds the blocks
    import org.apache.spark.storage.StorageLevel
    val s = spark
    import s.implicits._
    val df = (1 to 100).toDF("x").localCheckpoint()
    val rdd = df.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    assert(rdd.getStorageLevel != StorageLevel.NONE,
      "localCheckpoint left nothing persisted")
    df.unpersist(blocking = true) // the trap this test documents: a no-op
    assert(rdd.getStorageLevel != StorageLevel.NONE,
      "Dataset.unpersist unexpectedly freed checkpoint blocks — " +
        "Materialize may be obsolete on this Spark version")
    graft.operators.Materialize.free(df)
    assert(rdd.getStorageLevel == StorageLevel.NONE,
      "Materialize.free failed to drop the checkpoint blocks")
  }

  test("reliable-checkpoint CC survives injected task failures (forked)") {
    // end-to-end exercise of the checkpointEvery path under failure: a
    // 60-node chain whose edge source fails every task's first attempt,
    // run in a forked local[2,2] JVM (the shared session is plain local
    // mode, where any task failure is fatal) — completes with exact labels
    val code = ForkedJvm.run("graft.CheckpointCcMain", "1g", Seq("60"))
    assert(code == 0, s"forked checkpoint-CC run exited $code")
  }

  test("seeded-hyperplane LSH recall holds in its design regime (τ≈0.9)") {
    // the recall row plants a re-encoded copy of every corpus vector at
    // cos ≈ 1/√1.25 ≈ 0.894 and probes with 4 bands of 4 seeded-Gaussian
    // sign bits: expected recall 1-(1-p⁴)⁴ ≈ 0.95 at p = 1-θ/π ≈ 0.85.
    // Pin the regime (avg planted cos near 0.894) and a conservative
    // recall floor. This is the recall bar for the seeded Irwin–Hall
    // plane family that q_dedup_embed_lsh now runs on (corpus-vector
    // planes would NOT clear it on clustered corpora).
    val row = SparkEntry.queries("q_lsh_recall")(
      spark, "/root/testdata/sf0.001").collect()(0)
    val avgCos = row.getAs[Double]("avg_cos")
    val recall = row.getAs[Double]("recall")
    assert(avgCos >= 0.85 && avgCos <= 0.95,
      s"planted pairs off the τ≈0.9 regime: avg_cos=$avgCos")
    assert(recall >= 0.6, s"seeded sign-LSH recall $recall below the pin")
    assert(row.getAs[Long]("n_true") > 0)
  }

  test("loops free their superseded rounds and keep the caller's inputs") {
    // lpaRounds, pqTrain, mixtureWeights, kmeansIterate, pagerank, both
    // CC loops (local and durable) and the two MMR kernels checkpoint
    // every round: once a round's successor lands the round is freed, so
    // pinned executor memory stays O(1) in rounds — but the inputs the
    // CALLER checkpointed (LPA's nodes, PQ's training subvectors and
    // seed, the corpus, edge and pair frames) must stay pinned
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    def pinned = s.sparkContext.getPersistentRDDs.keySet
    def rddId(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
    def assertGrowth(before: collection.Set[Int], what: String,
        bound: Int = 1) = {
      val grown = pinned -- before
      assert(grown.size <= bound, s"$what left ${grown.size} rounds pinned")
    }
    val nodes = (1L to 6L).toDF("v").localCheckpoint()
    val edges = Seq(1L -> 2L, 2L -> 3L, 4L -> 5L).toDF("a_id", "b_id")
      .localCheckpoint()
    val beforeLpa = pinned
    val lab = Dedup.lpaRounds(nodes, edges, rounds = 3)
    assertGrowth(beforeLpa, "lpaRounds")
    assert(Seq(nodes, edges).map(rddId).forall(pinned.contains),
      "lpaRounds freed its caller's inputs")
    assert(lab.count() == 6)

    val e = graft.operators.Similarity.dropZeroNorm(s,
      Tables(s, "/root/testdata/sf0.001", "embeddings")
        .select(col("vec_id"), col("embedding")))
    val sv = graft.operators.Similarity
      .pqSubs(e, "vec_id", "embedding", 8, 8, "sv").localCheckpoint()
    val seed = graft.operators.Similarity.pqCodebook(s, e, 8, 8, 8)
      .localCheckpoint()
    val beforePq = pinned
    val cb = graft.operators.Similarity.pqTrain(s, sv, seed, 8, 3)
    assertGrowth(beforePq, "pqTrain")
    assert(Seq(sv, seed).map(rddId).forall(pinned.contains),
      "pqTrain freed its caller's inputs")
    assert(cb.count() > 0)

    val beforeMw = pinned
    val mw =
      SparkEntry.queries("q_mixture_weights")(s, "/root/testdata/sf0.001")
    assertGrowth(beforeMw, "mixtureWeights")

    // MMR pins its candidate checkpoint and one selected set per round;
    // only the last round's set is read by the result
    val cand = Seq(
      (1L, Array(1.0f, 0.0f), 0.9),
      (2L, Array(0.0f, 1.0f), 0.8),
      (3L, Array(0.7f, 0.7f), 0.7)).toDF("doc_id", "embedding", "rel")
    val beforeMmr = pinned
    val mmr = graft.operators.Similarity.mmrSelect(s, cand,
      lambda = 0.5, mu = 0.5, k = 3)
    assertGrowth(beforeMmr, "mmrSelect")
    assert(mmr.count() == 3)
    val beforeMmrBatch = pinned
    val mmrBatch = graft.operators.Similarity.mmrSelectBatch(s,
      cand.withColumn("q_id", org.apache.spark.sql.functions.lit(0L)),
      lambda = 0.5, mu = 0.5, k = 3)
    assertGrowth(beforeMmrBatch, "mmrSelectBatch")
    assert(mmrBatch.count() == 3)

    // the result is the one round left pinned: the last assignment, the
    // last ranks (PageRank's edge and contrib frames are freed), the
    // last labels (CC's pair and edge lists are freed) — and for star
    // also its ids frame, which the result joins
    val eCk = e.localCheckpoint()
    val beforeKm = pinned
    val km = graft.operators.Similarity.kmeansIterate(s, eCk, 8, 3)
    assertGrowth(beforeKm, "kmeansIterate")
    assert(pinned.contains(rddId(eCk)),
      "kmeansIterate freed its caller's input")
    assert(km.count() > 0)

    val directed = Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L)
      .toDF("src", "dst").localCheckpoint()
    val beforePr = pinned
    val pr = graft.operators.Graph.pagerank(s, directed, 3)
    assertGrowth(beforePr, "pagerank")
    assert(pinned.contains(rddId(directed)),
      "pagerank freed its caller's input")
    assert(pr.count() == 3)

    val pairs = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 10L -> 11L)
      .toDF("a_id", "b_id").localCheckpoint()
    val ccs = Seq(None, Some(2)).flatMap { every =>
      val beforeCc = pinned
      val cc = Dedup.connectedComponents(pairs, every)
      assertGrowth(beforeCc, s"connectedComponents($every)")
      val beforeStar = pinned
      val star = Dedup.connectedComponentsStar(pairs, every)
      assertGrowth(beforeStar, s"connectedComponentsStar($every)", bound = 2)
      assert(cc.count() == 7 && star.count() == 7)
      Seq(cc, star)
    }
    assert(pinned.contains(rddId(pairs)), "CC freed its caller's pairs")
    (Seq(nodes, edges, lab, sv, seed, cb, mw, mmr, mmrBatch, eCk, km,
      directed, pr, pairs) ++ ccs).foreach(graft.operators.Materialize.free)
  }

  test("Materialize.free frees through a Project over the checkpoint") {
    // a handle that is a Project over the LogicalRDD (e.g. a round frame
    // with a column dropped), not the LogicalRDD itself: free must
    // traverse the plan, or checkpoint blocks pin O(rounds) executor
    // memory.
    import org.apache.spark.storage.StorageLevel
    val s = spark
    import s.implicits._
    val ck = (1 to 100).map(i => (i, i * 2)).toDF("x", "prev").localCheckpoint()
    val rdd = ck.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    assert(rdd.getStorageLevel != StorageLevel.NONE)
    graft.operators.Materialize.free(ck.drop("prev"))
    assert(rdd.getStorageLevel == StorageLevel.NONE,
      "Materialize.free missed a LogicalRDD wrapped in a Project")
  }

  test("Materialize.free on a cached frame spares the checkpoint under it") {
    // the reliable-checkpoint CC loops persist() the in-between rounds;
    // their lineage still contains the durable rounds' LogicalRDDs, which
    // stay live — free must unpersist the frame's OWN cache and must NOT
    // traverse into (and drop) the shared checkpoint blocks
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    val ck = (1 to 100).toDF("x").localCheckpoint()
    val ckRdd = ck.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    val derived = ck.withColumn("y", col("x") * 2).persist()
    derived.count()
    assert(derived.storageLevel != StorageLevel.NONE)
    graft.operators.Materialize.free(derived)
    assert(derived.storageLevel == StorageLevel.NONE,
      "free left the cached frame's own blocks pinned")
    assert(ckRdd.getStorageLevel != StorageLevel.NONE,
      "free dropped the LIVE checkpoint blocks under a cached frame")
    graft.operators.Materialize.free(ck)
  }

  test("star components converge on a chain longer than the round cap") {
    val s = spark
    import s.implicits._
    // a 150-node path needs ~150 min-label rounds (the propagation throws
    // past 50); the star algorithm collapses it in O(log n) rounds — this
    // is exactly the adversarial diameter case it exists for
    val chain = (0L until 149L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = Dedup.connectedComponentsStar(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 150)
    assert(labels.values.forall(_ == 0L))
    assertThrows[IllegalStateException](
      Dedup.connectedComponents(chain).collect())
  }

  test("bucketed embed dedup refines the exact clustering at sf0.01") {
    // IVF edges require same-bucket AND the same rounded cosine threshold,
    // so they are a subset of the exact edges — every bucketed cluster must
    // therefore sit inside one exact cluster (refinement). This pins the
    // recall direction: the bucketed path may split clusters (missed
    // cross-bucket edges) but must never merge vectors the exact path
    // keeps apart.
    val sf = "/root/testdata/sf0.01"
    def clusters(q: String): Map[Long, Long] =
      SparkEntry.queries(q)(spark, sf).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id"))
        .toMap
    val exact = clusters("q_dedup_embed")
    val ivf = clusters("q_dedup_embed_ivf")
    assert(ivf.keySet == exact.keySet) // every vector gets a row in both
    ivf.groupBy(_._2).foreach { case (ivfCluster, members) =>
      val exactClusters = members.keys.map(exact).toSet
      assert(exactClusters.size == 1,
        s"ivf cluster $ivfCluster spans exact clusters $exactClusters")
    }
    // and the bucketing actually finds duplicates (not all-singletons)
    assert(ivf.exists { case (v, c) => v != c },
      "bucketed dedup found no non-singleton cluster")
  }

  test("hyperplane-LSH embed dedup refines the exact clustering at sf0.01") {
    // Same refinement direction as the IVF pin: LSH edges pass the SAME
    // exact-cosine verify, so they are a subset of the exact edges — LSH
    // may split clusters (a near-dup pair disagreeing on both bands) but
    // must never merge vectors the exact path keeps apart.
    val sf = "/root/testdata/sf0.01"
    def clusters(q: String): Map[Long, Long] =
      SparkEntry.queries(q)(spark, sf).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id"))
        .toMap
    val exact = clusters("q_dedup_embed")
    val lsh = clusters("q_dedup_embed_lsh")
    assert(lsh.keySet == exact.keySet)
    lsh.groupBy(_._2).foreach { case (lshCluster, members) =>
      val exactClusters = members.keys.map(exact).toSet
      assert(exactClusters.size == 1,
        s"lsh cluster $lshCluster spans exact clusters $exactClusters")
    }
    assert(lsh.exists { case (v, c) => v != c },
      "hyperplane-LSH dedup found no non-singleton cluster")
  }

  test("incremental dedup assigns every drop reason on planted frames") {
    // one planted doc per reason, plus priority coverage: doc 15 is a
    // near-dup of BOTH corpus doc 1 and batch doc 10 — near_corpus must
    // win over near_batch per incrementalDedup's priority contract.
    val s = spark
    import s.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    val fresh = "totally unrelated fresh content never seen anywhere " +
      "with many distinct tokens"
    val corpus = Seq(
      (1L, base),
      (2L, "corpus only text that matches nothing else at all today"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, base),                                  // exact_corpus
      (15L, base.replace("sigma", "SIGMA2")),       // near_corpus
      (20L, other),                                 // kept (pair min-id)
      (25L, other.replace("sixteen", "seventeen")), // near_batch (of 20)
      (30L, fresh),                                 // kept
      (35L, fresh))                                 // exact_batch (of 30)
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(s, batch, corpus).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("reason"), r.getAs[Boolean]("keep"))).toList
    assert(out == List(
      (10L, "exact_corpus", false), (15L, "near_corpus", false),
      (20L, "kept", true), (25L, "near_batch", false),
      (30L, "kept", true), (35L, "exact_batch", false)))
  }

  test("exact-first rep restriction leaves incremental verdicts invariant") {
    // r17's ×10000 corpus stream measured the unrestricted form's
    // intra-batch quadratic live (>69 GB spill at ~156 copies/text); r18
    // applies the same representative restriction to the batch arm. This
    // pins the documented invariance argument on a HIGH-duplication
    // planted frame (40 exact copies per text, interleaved ids, near
    // variants, NULL texts): the restricted arm's verdicts equal the
    // unrestricted (pre-r18) arm's row for row, and every reason class
    // binds at least once.
    val s = spark
    import s.implicits._
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
      "one two three four five six seven eight nine ten eleven twelve",
      "red orange yellow green blue indigo violet cyan magenta white black",
      "north south east west up down left right forward backward inward")
    val copies = for {
      (t, ti) <- texts.zipWithIndex
      k <- 0 until 40
    } yield (100L + k * 10 + ti, t) // interleaved: reps not contiguous
    val nears = texts.zipWithIndex.map { case (t, ti) =>
      (5000L + ti, t.replaceFirst(" \\w+$", " CHANGED")) }
    val nulls = Seq((7000L, null: String), (7001L, null: String))
    val batch = (copies ++ nears ++ nulls).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, texts.head),
      (2L, "corpus only matches nothing else in this test at all"))
      .toDF("doc_id", "text")
    def verdicts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("keep"),
        r.getAs[String]("reason"))).toList
    val restricted = verdicts(Dedup.incrementalDedup(s, batch, corpus))
    val unrestricted = verdicts(
      Dedup.incrementalDedupUnrestrictedForTest(s, batch, corpus))
    assert(restricted == unrestricted,
      "rep restriction changed a verdict — the invariance argument broke")
    assert(restricted.map(_._3).toSet == Set("exact_corpus", "exact_batch",
      "near_corpus", "near_batch", "kept"))
    // the NULL-text pair must ride the null-safe first_id join: one rep
    // kept, the other exact_batch (a plain equi-join would drop both)
    assert(restricted.filter(_._1 >= 7000L) ==
      List((7000L, true, "kept"), (7001L, false, "exact_batch")))
  }

  test("corpus pipeline's exact-dedup stage drops planted dups in composition") {
    // the driver corpus has NO exact duplicate texts, so the registry
    // row's exact stage never binds; this plants copies and checks the
    // COMPOSED chain drops them at exactly that stage. A copy shares
    // its donor's text, so it survives minlen/quality iff the donor
    // does — therefore quality grows by the surviving copies while
    // exact_dedup (and every later stage) is UNCHANGED: the copies all
    // died at the exact stage, nowhere else.
    val s = spark
    import org.apache.spark.sql.functions._
    val base = Tables(s, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "source", "n_chars", "text")
    val maxId = base.agg(max("doc_id")).head.getLong(0)
    val copies = base.orderBy(col("n_chars").desc).limit(3)
      .withColumn("doc_id", col("doc_id") + lit(maxId + 1))
    def counts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      Dedup.corpusPipeline(s, df).collect()
        .map(r => r.getString(1) -> r.getLong(2)).toMap
    val a = counts(base)
    val b = counts(base.unionByName(copies))
    assert(b("input") == a("input") + 3)
    assert(b("quality") > a("quality"),
      "no planted copy survived to the exact stage — donors too short")
    assert(b("exact_dedup") == a("exact_dedup"),
      s"exact stage failed to drop the planted copies: $a vs $b")
    assert(b("near_dedup") == a("near_dedup"))
    assert(b("token_budget") == a("token_budget"))
  }
}
