package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import operators.Graph

/** PageRank operator semantics (operators/Graph.scala). */
class GraphSpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("pagerank matches the hand-computed fixed-point on a path graph") {
    // a–b–c symmetrized: outdeg a=1, b=2, c=1; micro-rank units.
    // round 1: r(a)=⌊150000+0.85·⌊1e6/2+½⌋+½⌋=575000, r(b)=150000+0.85·2e6
    //          =1850000, r(c)=575000
    // round 2: b's split is ⌊1850000/2+½⌋=925000 → r(a)=r(c)=936250;
    //          a+c send 575000 each → r(b)=150000+0.85·1150000=1127500
    val s = spark
    import s.implicits._
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val edges = pairs.union(pairs.select($"dst".as("src"), $"src".as("dst")))
    val got = Graph.pagerank(s, edges, 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 936250L, "b" -> 1127500L, "c" -> 936250L))
    // rank mass is conserved across a round (each node's rank splits
    // fully over its out-edges; teleport re-injects 0.15 per node):
    // 936250 + 1127500 + 936250 = 3,000,000 micro-units = n exactly
    assert(got.values.sum == 3000000L)
  }

  test("q_pagerank is deterministic across runs") {
    // the fixed-point micro-unit arithmetic has no accumulation-order
    // dependence — two full runs must agree bit-for-bit (the cross-engine
    // half of this claim is the DuckDB oracle row)
    val s = spark
    val once = SparkEntry.queries("q_pagerank")(s, sfDir).collect().toSeq
    val twice = SparkEntry.queries("q_pagerank")(s, sfDir).collect().toSeq
    assert(once == twice)
    assert(once.nonEmpty)
    // every rank is at least the teleport floor
    assert(once.forall(_.getAs[Double]("rank") >= 0.15))
  }

  test("LPA: clique absorbs, bridge splits, ties go to the min label") {
    val s = spark
    import s.implicits._
    // two triangles {1,2,3} and {10,11,12} joined by ONE bridge edge
    // 3–10, plus isolated node 99. Labels converge within each triangle
    // to its min id; the single bridge never outvotes a node's two
    // in-triangle neighbors, so LPA keeps the communities SPLIT — the
    // behavior that distinguishes it from connected components (which
    // would merge everything into one).
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (3L, 10L)).toDF("a_id", "b_id")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L).toDF("v")
    val got = operators.Dedup.lpaRounds(nodes, edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-simulated SELF-INCLUSIVE sync rounds (each node votes its own
    // label too — the anti-oscillation damping):
    //   r1: 1→1 2→1 3→1 10→3  11→10 12→10  (bridge seeds 3 into 10)
    //   r2: 1→1 2→1 3→1 10→10 11→10 12→10  (triangle outvotes the seed)
    //   r3: fixed point — left community 1, right community 10
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 99L -> 99L),
      s"LPA fixed point diverged: $got")
    // the communities stayed split despite the bridge — the property that
    // distinguishes LPA from connected components on this graph
    assert(got(3L) != got(10L), s"bridge merged the triangles: $got")
  }

  test("LPA without damping would oscillate: the pair converges with it") {
    val s = spark
    import s.implicits._
    // an isolated 2-clique is the minimal sync-LPA oscillator (a swaps
    // to b's label while b swaps to a's, period 2, forever). The
    // self-inclusive vote makes it converge to the min label in one
    // round and stay there — pinned across consecutive round counts.
    val edges = Seq((7L, 9L)).toDF("a_id", "b_id")
    val nodes = Seq(7L, 9L).toDF("v")
    for (r <- 1 to 3) {
      val got = operators.Dedup.lpaRounds(nodes, edges, rounds = r)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(got == Map(7L -> 7L, 9L -> 7L),
        s"pair not stable at rounds=$r: $got")
    }
  }

  test("q_graph_lpa's 3 rounds reach the fixed point on the test corpus") {
    // the registered row pins 3 rounds as the verified contract; this
    // pins that on the near-dup graph those 3 rounds are ALSO the fixed
    // point (a 4th sync round moves no label) — if a future corpus
    // breaks this, the assertion localizes the convergence question
    // instead of leaving it to the scaladoc
    val s = spark
    val docs = Tables(s, sfDir, "documents")
      .select(col("doc_id").as("v"))
    val edges = operators.Dedup.nearDupPairs(s, sfDir)
      .localCheckpoint()
    def labels(rounds: Int) =
      operators.Dedup.lpaRounds(docs, edges, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(3) == labels(4), "round 4 still moves labels")
  }
}
