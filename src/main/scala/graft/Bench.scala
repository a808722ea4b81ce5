package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

object Bench {

  /** The one session recipe, shared by the sweep, BenchOne and Verify so
    * standalone timings and correctness dumps run under the exact sweep
    * configuration. `extraConfs` is for harness callers with phase-specific
    * needs (e.g. StressMain's long-drain periodicGC); the sweep itself
    * always runs the bare recipe.
    *
    * `spark.sql.codegen.cache.maxEntries` sizes Spark's JVM-wide cache of
    * compiled generated classes (default 100). Its key is (context class
    * loader, code body), and in local mode the driver and the executor
    * threads compile under different loaders, so each body takes two
    * entries. One pass of all 201 registered rows at sf0.001 in a fresh
    * session makes 3,561 such keys (`CodegenReuseMain`), so at the default
    * the LRU cache evicts every class before its next use and a warm
    * session recompiles the code it ran one pass earlier. 5000 holds the
    * whole registry.
    *
    * `Materialize.free` unpersists locally checkpointed rounds, and Spark
    * logs a WARN from `MapPartitionsRDD` for each ("cannot be recomputed
    * after unpersisting"), which the loops mean. That logger runs at ERROR
    * so the WARNs left are ones worth reading. */
  def benchSession(cpus: String,
      extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    extraConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    spark
  }

  /** Warm the session (codegen compiler, parquet footers, shuffle infra)
    * so the first measured query doesn't absorb ~10 s of one-time
    * JVM/session cost. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    Tables(spark, sfDir, "lineitem").groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()

  /** Fixed-work machine-noise sentinel: a data-independent CPU-bound
    * aggregation (hash + xor over a generated range — no IO, no shuffle
    * skew). On a quiet box it lands near a stable constant; under
    * contention it inflates by the same smear the per-query seconds carry,
    * so records can be normalized in-band. Run after warmUp, min-of-2: the
    * first execution of this plan pays its own codegen + JIT, which would
    * read as contention. */
  def sentinel(spark: SparkSession): Double =
    math.min(sentinelOnce(spark), sentinelOnce(spark))

  /** Per-tiny-job scheduler-floor sentinel: wall seconds PER JOB over 20
    * serial one-task noop jobs (no data, no shuffle, ~zero CPU) — the
    * latency axis the CPU-bound [[sentinel]] is blind to, which smears
    * every many-tiny-jobs row (streaming, RDD.pipe). Min-of-2 like the
    * CPU pair. */
  def jobFloor(spark: SparkSession): Double =
    math.min(jobFloorOnce(spark), jobFloorOnce(spark))

  private def jobFloorOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    (0 until 20).foreach { _ =>
      spark.range(0L, 1L, 1L, 1)
        .write.format("noop").mode("overwrite").save()
    }
    (System.nanoTime() - t0) / 1e9 / 20
  }

  private def sentinelOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    // bit_xor, not sum: a SUM of 200M full-range hashes overflows Long
    // and ANSI mode (Spark 4 default) fails the task; xor is closed
    spark.range(0L, 200000000L, 1L, 32)
      .select(bit_xor(xxhash64(col("id"))))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  // Apples-to-apples vs BASELINE.md: the reference's only quantified task
  // is the word-count map over tests/testdata/input_large (3.74 MB,
  // budget < 10 s single worker ⇒ ~0.37 MB/s floor). Same executables,
  // same input, full map+shuffle+reduce job.
  def mrBaseline(spark: SparkSession): Map[String, Double] = {
    val ref = "/root/reference/tests/testdata"
    val in = s"$ref/input_large"
    if (!new java.io.File(in).isDirectory) Map.empty
    else {
      val out = s"${operators.Scratch.fresh("bench-mr")}/out"
      val t0 = System.nanoTime()
      try {
        operators.MapReduce.run(spark, operators.JobSpec(
          in, out, s"$ref/exec/wc_map.sh", s"$ref/exec/wc_reduce.sh",
          numMappers = 2, numReducers = 1))
        Map("mr_wordcount_3.7MB" -> (System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] mr_wordcount failed: ${e.getMessage}")
        Map.empty
      }
    }
  }

  /** Where the full metric line persists between rounds (cwd = repo
    * root), read back by the next sweep for its `vs_prev` deltas. */
  val LastRunFile = "bench_last.json"

  private val Json = new ObjectMapper()

  /** Per-query seconds from [[LastRunFile]] when it was written at the SAME
    * scale factor (seconds only compare within one sf), for the `vs_prev`
    * deltas. A missing or unreadable file means no deltas. */
  def prevQueries(sfDir: String,
      file: java.io.File = new java.io.File(LastRunFile)): Map[String, Double] =
    try {
      val node = Json.readTree(file)
      if (node.path("sf").asText != sfDir) Map.empty
      else node.path("queries").properties.asScala
        .map(e => e.getKey -> e.getValue.asDouble).toMap
    } catch { case NonFatal(_) => Map.empty }

  /** The seven sentinel readings of one sweep (see [[sentinel]] and
    * [[jobFloor]]), in emission order. */
  final case class Sentinels(start: Double, end: Double, streamStart: Double,
      streamEnd: Double, floorStart: Double, floorStream: Double,
      floorEnd: Double) {

    /** In-band quiet-box verdict: a sweep whose sentinels exceed their
      * thresholds ran under machine contention, and its per-query seconds
      * carry the same smear. Quiet-box start sentinels sit at 0.08–0.19 s
      * (0.25 ≈ 1.4× the band's high edge). The stream sentinel runs after
      * ~150 batch queries have churned the JVM and sits hotter, so it has
      * its own wider threshold. `floorStart` is the job-floor axis the CPU
      * pair is blind to: 0.035 s/job ≈ 2.2× the quiet median (calibration
      * table in BENCH_NOTES). `floorStream` stays observability-only until
      * its own quiet band has enough points. */
    def noisy: Boolean =
      start > 0.25 || streamStart > 0.35 || floorStart > 0.035
  }

  /** The sweep's two output lines: the full record (persisted to
    * [[LastRunFile]]) and the short summary printed LAST, which carries
    * `failed` so a breakage shows even when only the tail of stdout is
    * kept. Fields may only be added, never renamed or reordered, so
    * records stay comparable across rounds. */
  def records(results: Map[String, Double], prev: Map[String, Double],
      failed: Seq[String], sentinels: Sentinels,
      sfDir: String): (String, String) = {
    def r3(v: Double) = math.rint(v * 1000) / 1000 // keep the line short
    def r4(v: Double) = math.rint(v * 10000) / 10000 // floors are ~10 ms
    val total = results.values.sum
    def line(body: ObjectNode => Unit): String = {
      val o = Json.createObjectNode()
      o.put("metric", "total").put("value", r3(total)).put("unit", "sec")
        .put("noisy", sentinels.noisy)
      body(o)
      val f = o.putArray("failed")
      failed.foreach(n => f.add(n))
      val s = o.putObject("sentinel")
      s.put("start", r3(sentinels.start)).put("end", r3(sentinels.end))
        .put("stream_start", r3(sentinels.streamStart))
        .put("stream_end", r3(sentinels.streamEnd))
        .put("floor_start", r4(sentinels.floorStart))
        .put("floor_stream", r4(sentinels.floorStream))
        .put("floor_end", r4(sentinels.floorEnd))
      o.put("sf", sfDir)
      Json.writeValueAsString(o)
    }
    val full = line { o =>
      val qs = o.putObject("queries")
      results.foreach { case (k, v) => qs.put(k, r3(v)) }
      // cur/prev ratio per query (<1 = faster than last round)
      val vs = o.putObject("vs_prev")
      results.foreach { case (k, v) =>
        prev.get(k).filter(_ > 0)
          .foreach(p => vs.put(k, math.rint(v / p * 100) / 100))
      }
    }
    (full, line(_.put("n_queries", results.size)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = benchSession(cpus)
    warmUp(spark, sfDir)
    val sentinelStart = sentinel(spark)
    val floorStart = jobFloor(spark)
    // noop-format write executes the FULL plan (a count() would let
    // Catalyst prune projections/sorts). Two passes, min time: a single
    // pass is dominated by whichever query absorbs a GC pause or noise
    // spike. A failed run yields None, never the time it took to throw;
    // failures surface by name in the record's "failed" list instead.
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    }
    // Streaming rows run in their OWN phase after every batch row: a
    // streaming query leaves memory-sink tables and state-store
    // maintenance threads in the JVM that skew later batch timings.
    val streamNames = streaming.Streams.queries.map(_.name).toSet
    val (streamQ, batchQ) = SparkEntry.queries.toSeq.sortBy(_._1)
      .partition { case (n, _) => streamNames(n) }
    def minOf2(qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]) = {
      val pass1 = qs.map { case (n, f) => n -> once(n, f) }.toMap
      qs.flatMap { case (n, f) =>
        (pass1(n).toSeq ++ once(n, f)).minOption.map(n -> _)
      }.toMap
    }
    val resultsBatch = minOf2(batchQ)
    // The stream phase gets its OWN sentinel pair so its smear (RocksDB
    // provider bring-up dominates those rows) is normalizable in-band. One
    // DISCARDED stream run first absorbs the JVM-wide one-time costs
    // (RocksDB JNI load, state-store coordinator, streaming codegen).
    val sentinelStreamStart = sentinel(spark)
    val floorStream = jobFloor(spark)
    streamQ.headOption.foreach { case (n, f) => once(s"$n (warm-up)", f) }
    val resultsStream = minOf2(streamQ)
    val sentinelStreamEnd = sentinel(spark)
    val results = resultsBatch ++ resultsStream ++ mrBaseline(spark)
    val sentinelEnd = sentinel(spark)
    val floorEnd = jobFloor(spark)
    val failed = (batchQ ++ streamQ).map(_._1)
      .filterNot(results.contains).sorted
    val (fullLine, summaryLine) = records(results, prevQueries(sfDir), failed,
      Sentinels(sentinelStart, sentinelEnd, sentinelStreamStart,
        sentinelStreamEnd, floorStart, floorStream, floorEnd), sfDir)
    println(fullLine)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(LastRunFile),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case NonFatal(_) => () }
    println(summaryLine)
    spark.stop()
  }
}
