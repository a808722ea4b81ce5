package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{CosineSim, DotProduct, SimHash32, VecCentroid}
import graft.plans.{Md5, UnsignedBytesOrdering}

/** Fixed-work probes of single layers, run only in traced runs, outside
  * the measured passes. */
object Probes {
  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Runs `body` as an untagged op, so the tracer attributes its jobs by
    * time; returns its counters. */
  private def probe(spark: SparkSession, tr: Tracer, name: String)(
      body: => Unit): OpStats = {
    val s = tr.opened(-1, name, mr = false)
    try body finally tr.closed(s)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    s
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `scan.mb_per_s`: on-disk MB of every table over the seconds a noop
    * write of it through `Tables` takes (scan floor included); the second
    * of two runs. */
  def tableScan(spark: SparkSession, dir: String): Double = {
    val walls = Tables.names.map { t =>
      def once() = seconds(
        Tables(spark, dir, t).write.format("noop").mode("overwrite").save())
      once()
      once()
    }
    val bytes = Tables.names.map(t => new java.io.File(s"$dir/$t.parquet").length).sum
    bytes / 1048576.0 / walls.sum
  }

  /** `scan.mb_per_s` for the MapReduce input: a textFile line count. */
  def textScan(spark: SparkSession, dir: String, bytes: Long): Double = {
    def once() = seconds(spark.sparkContext.textFile(dir).count())
    once()
    bytes / 1048576.0 / once()
  }

  /** `kernel.<name>.rows_per_s_core`: rows through each kernel per second
    * of task time (or of one driver thread, for the partitioner and the
    * byte ordering), over generated in-memory inputs; median of three. */
  def kernels(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    val n = 200000
    val vecs = spark.range(0, n, 1, 4).select(col("id"),
      expr("transform(sequence(0, 63), i -> cast(hash(id, i) % 1000 / 1000.0 as float))").as("a"),
      expr("transform(sequence(0, 63), i -> cast(hash(i, id) % 1000 / 1000.0 as float))").as("b"))
      .cache()
    val texts = spark.range(0, n, 1, 4).select(expr(
      "concat_ws(' ', transform(sequence(0, 29), i -> cast(abs(hash(id, i)) % 5000 as string)))")
      .as("text")).cache()
    vecs.count()
    texts.count()
    def perCore(name: String, df: => DataFrame): Double = median((1 to 3).map { _ =>
      val s = probe(spark, tr, s"kernel:$name")(df.collect())
      n / math.max(s.runMs / 1000.0, 1e-3)
    })
    val centroid = udaf(VecCentroid)
    val spark1 = Map(
      "cosine_sim" -> perCore("cosine_sim",
        vecs.agg(sum(CosineSim(spark, col("a"), col("b"))))),
      "dot_product" -> perCore("dot_product",
        vecs.agg(sum(DotProduct(spark, col("a"), col("b"))))),
      "simhash32" -> perCore("simhash32",
        texts.agg(sum(SimHash32(spark, col("text"))))),
      "vec_centroid" -> perCore("vec_centroid",
        vecs.groupBy(col("id") % 64).agg(centroid(col("a")))))
    vecs.unpersist()
    texts.unpersist()

    val rnd = new java.util.Random(1)
    val keys = Array.fill(n)(s"w${rnd.nextInt(1 << 20)}\t1\n".getBytes("UTF-8"))
    def driverRate(body: => Unit): Double = median((1 to 3).map(_ => n / seconds(body)))
    var sink = 0L
    val md5 = driverRate(keys.foreach(k => sink += Md5.mod(k, 4)))
    val cmp = driverRate(java.util.Arrays.sort(keys.clone(), UnsignedBytesOrdering))
    if (sink < 0) println(sink)
    spark1 ++ Map("md5_mod" -> md5, "unsigned_bytes_cmp" -> cmp)
  }
}
