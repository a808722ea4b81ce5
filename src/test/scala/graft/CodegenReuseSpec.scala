package graft

import org.scalatest.funsuite.AnyFunSuite

/** A warm `Bench.benchSession` compiles each generated class once: the
  * recipe sizes Spark's codegen cache above what the registry needs. The
  * cache is JVM-wide and its size is read once, so each check forks a JVM
  * running [[CodegenReuseMain]] over the benchmark's six curation rows for
  * three passes; the third pass may compile only the rows' named residuals.
  */
class CodegenReuseSpec extends AnyFunSuite {

  private val rows = Seq("q_dedup_minhash", "q_dedup_simhash_bands",
    "q_tfidf", "q_bm25", "q_cosine_pairs", "q_mmr_rerank").mkString(",")

  private def fork(confs: String*): Int =
    ForkedJvm.run("graft.CodegenReuseMain", "2g",
      Seq("/root/testdata/sf0.001", "3", rows) ++ confs)

  test("benchSession's third pass compiles no more than each row's residual") {
    assert(fork() == 0, "a row recompiled classes a warm session had compiled")
  }

  test("at Spark's default cache size the same passes thrash") {
    assert(fork("spark.sql.codegen.cache.maxEntries=100") == 2,
      "expected the 100-entry cache to recompile on the third pass")
  }
}
