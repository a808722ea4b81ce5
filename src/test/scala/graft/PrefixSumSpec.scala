package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PrefixSum

/** The sharded prefix-sum (PrefixSum.shardedPrior) and the scale arms it
  * powers: exact equivalence with the single-window form, and the plan
  * property the whole exercise exists for — NO window with an empty
  * partition spec (Spark's "No Partition Defined ... single partition"
  * stage) anywhere in the shard arms or the corpus pipeline.
  */
class PrefixSumSpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Count logical Window nodes with an EMPTY partitionSpec — each one is
    * a guaranteed single-task sort of its whole input at scale. */
  private def globalWindows(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }.size

  private def partitionedWindows(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.nonEmpty => w
    }.size

  test("shardedPrior == the single-window prior, skewed groups and ties") {
    val s = spark
    import s.implicits._
    // skewed synthetic frame: group 0 holds half the rows; values vary;
    // the priority key (md5 of id) is adversarially unrelated to id.
    // Every 13th row has a NULL source, which a window treats as its own
    // partition, so the helper's group joins must be null-safe.
    val df = s.range(4000).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(13)) =!= 0, concat(lit("g"),
        pmod(pmod(col("id"), lit(17)) * pmod(col("id"), lit(3)), lit(4))))
        .as("source"),
      pmod(col("id") * 31 + 7, lit(997)).as("n_chars"))
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df
      .withColumn("prior", sum(col("n_chars")).over(w) - col("n_chars"))
      .select("doc_id", "prior").as[(Long, Long)].collect().sorted
    val got = PrefixSum.md5BudgetPrior(df, col("n_chars"))
      .select("doc_id", "prior").as[(Long, Long)].collect().sorted
    assert(got.sameElements(want),
      s"sharded prior diverges from the window prior: " +
        got.zip(want).filter(p => p._1 != p._2).take(5).mkString(", "))
  }

  test("shard arms carry NO global-order window; the reference arms do " +
      "(detector positive control)") {
    def q(name: String): DataFrame =
      SparkEntry.queries(name)(spark, sfDir)
    // positive control first: the detector must SEE the single-partition
    // window in the reference arm, or the zero-assertions below are hollow
    assert(globalWindows(q("q_curriculum")) >= 1,
      "detector broken: q_curriculum's global ntile window not found")
    for (name <- Seq("q_curriculum_hist", "q_sample_budget_shard",
        "q_seq_pack_shard")) {
      val df = q(name)
      assert(globalWindows(df) == 0,
        s"$name has a single-partition window — the scale arm regressed")
      assert(partitionedWindows(df) >= 1,
        s"$name lost its shard-local window — detector looking at the " +
          "wrong plan?")
    }
    // the corpus pipeline's stage 5 (batch arm; the streaming arm shares
    // the same budgetPrior code path) must be global-window-free too
    val pipeline = graft.operators.Dedup
      .corpusPipeline(spark, Tables(spark, sfDir, "documents"))
    assert(globalWindows(pipeline) == 0,
      "corpus pipeline stage 5 regressed to the single-task budget window")
  }

  test("q_curriculum_hist == q_curriculum stage table (N % 4 == 0 corpus)") {
    val a = SparkEntry.queries("q_curriculum")(spark, sfDir)
      .collect().map(_.toSeq)
    val b = SparkEntry.queries("q_curriculum_hist")(spark, sfDir)
      .collect().map(_.toSeq)
    assert(a.sameElements(b), s"hist arm ${b.mkString} != ntile ${a.mkString}")
  }

  test("q_curriculum_hist matches ntile on ragged N (uneven stage sizes)") {
    // ntile's sizing rule (first N mod 4 stages take one extra doc) is
    // inlined as a closed form in the hist arm — pin it on corpora where
    // N mod 4 = 1, 2, 3, not just the driver table's even split
    val s = spark
    import s.implicits._
    for (n <- Seq(10, 11, 13)) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-ntile$n").toString
      try {
        (0 until n).map { i =>
          val words = (0 until (13 + i * 3)).map(j => s"w${(i * 7 + j) % 19}")
          val text = "the " + words.mkString(" ")
          (i.toLong, text, "en", s"s${i % 2}", text.length.toLong)
        }.toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/documents.parquet")
        val a = SparkEntry.queries("q_curriculum")(spark, dir)
          .collect().map(_.toSeq)
        val b = SparkEntry.queries("q_curriculum_hist")(spark, dir)
          .collect().map(_.toSeq)
        assert(a.sameElements(b),
          s"N=$n: hist ${b.mkString} != ntile ${a.mkString}")
      } finally org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir))
    }
  }

  test("q_sample_budget_shard and q_seq_pack_shard == their window arms") {
    for ((a, b) <- Seq("q_sample_budget" -> "q_sample_budget_shard",
        "q_seq_pack" -> "q_seq_pack_shard")) {
      val want = SparkEntry.queries(a)(spark, sfDir).collect().map(_.toSeq)
      val got = SparkEntry.queries(b)(spark, sfDir).collect().map(_.toSeq)
      assert(got.sameElements(want), s"$b diverges from $a")
    }
  }
}
