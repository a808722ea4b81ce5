package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** The blocked (distributed-GEMM) similarity join must produce EXACTLY the
  * broadcast path's result — same pairs, same rounded cosines — for any
  * block count.
  */
class SimilaritySpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("all cosine-join paths match a brute-force reference on random vectors") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42) // seeded: deterministic test
    // sparse, non-contiguous ids; negative components; varied magnitudes
    val vecs = (0 until 60).map { i =>
      (i.toLong * 7 + 3, Array.fill(16)((rnd.nextFloat() - 0.5f) * 4f))
    }
    val want = (for {
      (aId, av) <- vecs; (bId, bv) <- vecs if aId < bId
      r = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var k = 0
        while (k < av.length) {
          dot += av(k).toDouble * bv(k)
          na += av(k).toDouble * av(k)
          nb += bv(k).toDouble * bv(k)
          k += 1
        }
        BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      if r >= 0.2
    } yield (aId, bId, r)).toSet
    assert(want.nonEmpty)
    val df = vecs.toDF("vec_id", "embedding")
    def got(maxBytes: Long) =
      Similarity.cosinePairs(s, df, 0.2, maxBroadcastBytes = maxBytes)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    assert(got(Long.MaxValue) == want, "broadcast arm")
    assert(got(0L) == want, "blocked arm (auto blocks)")
    for (blocks <- Seq(1, 5, 7))
      assert(Similarity.blockedCosineJoin(s, df, 0.2, blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet == want, s"blocked at blocks=$blocks")
  }

  test("zero-norm vectors are dropped identically on both dispatch arms") {
    val s = spark
    import s.implicits._
    val df = Seq[(Option[Long], Array[Float])](
      (Some(0L), Array(0f, 0f)), // zero norm: no defined cosine, must vanish
      (Some(1L), Array(1f, 0f)),
      (Some(2L), Array(2f, 0f)),
      (Some(3L), Array(0f, 1f)),
      (Some(4L), null),          // null vector: no cosine either
      (None, Array(1f, 0f))      // null id: no pair to report
    ).toDF("vec_id", "embedding")
    def rows(maxBytes: Long) =
      Similarity.cosinePairs(s, df, 0.45, maxBroadcastBytes = maxBytes)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val want = Set((1L, 2L, 1.0))
    assert(rows(Long.MaxValue) == want, "broadcast arm")     // BNLJ path
    assert(rows(0L) == want, "blocked arm")                  // GEMM path
  }

  test("blockedCosineJoin == broadcast q_cosine_pairs at several block counts") {
    val s = spark
    val want = SparkEntry.queries("q_cosine_pairs")(s, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty)
    for (blocks <- Seq(1, 3, 8)) {
      val got = Similarity.blockedCosineJoin(
        s, Tables(s, sfDir, "embeddings"), threshold = 0.45, blocks = blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, s"mismatch at blocks=$blocks")
    }
  }

  test("retrieveBatch on the fixed row's query reproduces q_hybrid_rrf") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // the fixed row = retrieveBatch instantiated at ONE query: terms
    // {spark, data}, query vector = corpus vec 0, kArm=50, kOut=15.
    // Same (doc_id, r_lex, r_vec, rrf) rows in the same order proves the
    // batch kernel and the oracle-verified constant row cannot drift.
    val want = SparkEntry.queries("q_hybrid_rrf")(s, sfDir)
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2), r.getDouble(3)))
      .toSeq
    assert(want.nonEmpty)
    val qTerms = Seq((0L, "spark"), (0L, "data")).toDF("q_id", "word")
    val qVecs = Tables(s, sfDir, "embeddings").filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_v"))
    val got = Similarity.retrieveBatch(s, sfDir, qTerms, qVecs,
        kArm = 50, kOut = 15, excludeSelf = true)
      .select("doc_id", "r_lex", "r_vec", "rrf")
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2), r.getDouble(3)))
      .toSeq
    assert(got == want)
  }

  test("mmrSelect skips near-duplicates that plain top-k would keep") {
    val s = spark
    import s.implicits._
    // candidates: three near-identical high-relevance vectors (1,2,3 —
    // tiny angular jitter), one orthogonal-ish lower-relevance vector
    // (4), one diagonal (5). Plain top-3 by rel = {1,2,3}; MMR must take
    // ONE of the duplicate family first, then prefer the diverse 4 and 5
    // over the remaining duplicates despite their higher rel.
    val cand = Seq(
      (1L, Array(1.00f, 0.00f, 0.0f), 0.99),
      (2L, Array(0.99f, 0.02f, 0.0f), 0.98),
      (3L, Array(0.98f, 0.01f, 0.0f), 0.97),
      (4L, Array(0.00f, 1.00f, 0.0f), 0.60),
      (5L, Array(0.10f, 0.10f, 1.0f), 0.50)
    ).toDF("doc_id", "embedding", "rel")
    val got = Similarity.mmrSelect(s, cand, lambda = 0.5, mu = 0.5, k = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 4L, 5L),
      s"MMR did not diversify: picked $got")
    // rank-1 is always the argmax relevance (max_sim is 0 in round 1)
    val first = Similarity.mmrSelect(s, cand, lambda = 0.9, mu = 0.1, k = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(first == Seq(1L))
    // the batch kernel instantiated at ONE query must reproduce the
    // single-query kernel pick-for-pick (the retrieveBatch anti-drift
    // discipline applied to the greedy)
    val single = Similarity.mmrSelect(s, cand, lambda = 0.5, mu = 0.5, k = 3)
      .select("rank", "doc_id", "mmr_micros").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = Similarity.mmrSelectBatch(s,
        cand.withColumn(
          "q_id", org.apache.spark.sql.functions.lit(7L)),
        lambda = 0.5, mu = 0.5, k = 3)
      .select("rank", "doc_id", "mmr_micros").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(batch == single,
      s"batch kernel diverged from single: $batch vs $single")
  }
}
