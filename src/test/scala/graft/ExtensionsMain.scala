package graft

import org.apache.spark.sql.SparkSession

/** Forked-JVM entry for ExtensionsSpec: builds a FRESH session with
  * `.withExtensions(new GraftExtensions)` (impossible on the shared test
  * session — extensions only apply at session construction) and proves the
  * wiring: every injected SQL function resolves by name and computes.
  * Exit 0 = all checks passed.
  */
object ExtensionsMain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    Tables(spark, sfDir, "embeddings").createOrReplaceTempView("emb")

    // 1. injected SQL functions resolve without manual registration
    val one = spark.sql(
      "SELECT round(cosine_sim(embedding, embedding), 6) c FROM emb LIMIT 1")
      .collect()(0).getDouble(0)
    require(one == 1.0, s"cosine_sim(v, v) = $one, expected 1.0")
    val dp = spark.sql(
      "SELECT dot_product(embedding, embedding) >= 0 FROM emb LIMIT 1")
      .collect()(0).getBoolean(0)
    require(dp, "dot_product(v, v) must be non-negative")

    // 1b. the bloom sketch pair resolves and round-trips, in ONE pass:
    // every build-side key must hit (no false negatives) and a disjoint
    // probe range must be mostly rejected (false-positive rate << 1)
    val bloomRow = spark.sql(
      """SELECT COUNT(IF(vec_id < 100, 1, NULL)) AS hits,
                COUNT(IF(vec_id >= 100, 1, NULL)) AS fps
         FROM emb WHERE graft_bloom_contains(
           (SELECT graft_bloom_agg(CAST(vec_id AS LONG), 1000L, 8000L)
            FROM emb WHERE vec_id < 100),
           CAST(vec_id AS LONG))""").collect()(0)
    require(bloomRow.getLong(0) == 100,
      s"bloom dropped build keys: ${bloomRow.getLong(0)}/100")
    require(bloomRow.getLong(1) < 50,
      s"bloom false-positive count implausible: ${bloomRow.getLong(1)}")

    // 1c. the CMS estimate expression resolves through the extensions
    val cms = spark.sql(
      """SELECT graft_cms_estimate(
           (SELECT count_min_sketch(CAST(vec_id AS LONG), 0.01d, 0.99d, 7)
            FROM emb),
           CAST(1 AS LONG))""").collect()(0).getLong(0)
    require(cms >= 1, s"cms estimate for a present key must be >= 1: $cms")

    spark.stop()
  }
}
