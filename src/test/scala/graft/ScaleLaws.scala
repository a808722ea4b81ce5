package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{ChunkStream, Dedup, Graph, Relational,
  Similarity => Sim}
import graft.streaming.Streams

/** Scale laws: what a ×copies corpus must answer, derived exactly from
  * the base corpus's own answers. No DuckDB oracle runs past sf0.1, so
  * these laws are graft's evidence that the dataflow answers the same at
  * any size.
  *
  * Every blown corpus is a shifted-key self-union ([[blowUpTable]]):
  * copy k of a row keeps its content and shifts each key column by k·off,
  * where off is the key's base max + 1. Copies are identical in content and
  * disjoint in keys, and copy 0 is the base table with the smallest keys.
  * So each query's ×copies output follows from its base output: dedup
  * families grow ×copies around the base survivor, near-dup components
  * keep their base min-label, per-user analytics repeat per copy, and
  * means, covariances and centroids do not move (sums and counts scale
  * together).
  *
  * Two kinds of law:
  *  - EXACT: a set equality, an exact count, an idempotence, a
  *    shift-equivariance, stream == batch, a state-row count. They hold
  *    at any size; ScaleLawSpec runs them at sf0.001 ×3.
  *  - SHAPE: wall flatness, peak task memory, spill, shuffle growth and
  *    task counts, mostly over a ×copies/10 → ×copies step. They only
  *    mean something at ×10 and above and run in [[ScaleLawMain]] only
  *    ([[Run.shapes]]).
  *
  * The laws are grouped under the names of the stress modes they came
  * from ([[groups]]). */
object ScaleLaws {

  /** One law's verdict: `failure` is None when it held. */
  final case class Law(group: String, name: String, exact: Boolean,
      failure: Option[String]) {
    override def toString: String =
      (if (failure.isEmpty) "ok   " else "FAIL ") +
        (if (exact) "exact" else "shape") + s" [$group] $name" +
        failure.fold("")(" — " + _)
  }

  /** One timed run's task metrics: the peak is the max over its tasks,
    * the rest are sums. */
  final case class Shape(peak: Long, shuffle: Long, spill: Long,
      tasks: Long, jobs: Long, wall: Double)

  /** The one task-metrics listener. The listener bus is asynchronous:
    * [[settle]] waits until the counters hold still for 50 ms (2 s cap),
    * so a run's straggling task-end events neither go missing nor leak
    * into the next run. */
  final class TaskMetrics extends SparkListener {
    // peak, shuffle write, spill, tasks, jobs
    private val c = Array.fill(5)(new AtomicLong)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        c(0).getAndAccumulate(m.peakExecutionMemory, math.max(_, _))
        c(1).addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c(2).addAndGet(m.memoryBytesSpilled)
      }
      c(3).incrementAndGet(); ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      c(4).incrementAndGet(); ()
    }
    def reset(): Unit = c.foreach(_.set(0))
    def settle(wall: Double): Shape = {
      val deadline = System.nanoTime() + 2000000000L
      var prev = Seq.empty[Long]
      var cur = c.toSeq.map(_.get)
      while (prev != cur && System.nanoTime() < deadline) {
        Thread.sleep(50)
        prev = cur
        cur = c.toSeq.map(_.get)
      }
      Shape(cur(0), cur(1), cur(2), cur(3), cur(4), wall)
    }
  }

  private def mb(v: Long): Long = v >> 20

  // ---- generators --------------------------------------------------------

  /** The key columns each blown table shifts. */
  val keys: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("user_id", "event_id"),
    "orders" -> Seq("o_orderkey", "o_custkey"))

  /** A key column's shift per copy: its max + 1. */
  def offset(df: DataFrame, key: String): Long =
    df.agg(max(key)).head.getAs[Number](0).longValue + 1

  /** Copy ids `ids` as column `cpy`. The range is the distributed side of
    * every generator: a base table is one scan partition, so crossing
    * from the table's side would generate every row in one task, and a
    * copies-way union builds a copies-node plan. */
  private def copyIds(spark: SparkSession, ids: Range): DataFrame =
    spark.range(ids.start, ids.end, 1, math.max(
        spark.sparkContext.defaultParallelism, math.min(ids.size / 4, 2048)))
      .select(col("id").as("cpy"))

  /** Copies `ids` of `df`: copy k shifts each `shifts` column by k·off. */
  def copiesOf(df: DataFrame, ids: Range,
      shifts: Map[String, Long]): DataFrame =
    shifts.foldLeft(copyIds(df.sparkSession, ids).crossJoin(broadcast(df))) {
      case (b, (k, off)) => b.withColumn(k, col(k) + col("cpy") * lit(off))
    }.drop("cpy")

  /** Blow `table` of `src` up ×copies into `<dir>/<table>.parquet`,
    * shifting its [[keys]]. */
  def blowUpTable(spark: SparkSession, src: String, table: String,
      copies: Int, dir: String): Unit = {
    val t = Tables(spark, src, table)
    copiesOf(t, 0 until copies, keys(table).map(k => k -> offset(t, k)).toMap)
      .write.mode("overwrite").parquet(s"$dir/$table.parquet")
  }

  /** Numeric ids for the trading pairs' nodes, for graph ops that order
    * ids (LPA's smallest-label tie-break): customer `c:N` ↦ 2N, supplier
    * `s:N` ↦ 2N+1 — injective, and disjoint between the two sides. */
  def numericPairs(pairs: DataFrame): DataFrame = {
    def num(c: Column): Column =
      substring_index(c, ":", -1).cast("long") * 2 +
        when(c.startsWith("s:"), 1L).otherwise(0L)
    pairs.select(num(col("src")).as("a_id"), num(col("dst")).as("b_id"))
  }

  /** The registered trading graph of `src` ([[Graph.tradingPairs]]) blown
    * up ×copies, into `dir`:
    *  - `graph_edges.parquet` (src, dst): `copies` disjoint copies (node
    *    v ↦ "k#v") plus a star of `spokes` nodes "p:i" on the hub "h:0",
    *    symmetrized;
    *  - `graph_pairs_num.parquet` (a_id, b_id): the [[numericPairs]]
    *    copies, ids shifted by k·off.
    * Returns off. */
  def blowUpGraph(spark: SparkSession, src: String, copies: Int,
      spokes: Long, dir: String): Long = {
    val pairs0 = Graph.tradingPairs(spark, src).localCheckpoint()
    val k = col("cpy").cast("string")
    val pairs = copyIds(spark, 0 until copies).crossJoin(broadcast(pairs0))
      .select(concat(k, lit("#"), col("src")).as("src"),
        concat(k, lit("#"), col("dst")).as("dst"))
      .unionByName(spark.range(0, spokes, 1, 4)
        .select(concat(lit("p:"), col("id").cast("string")).as("src"),
          lit("h:0").as("dst")))
    pairs.unionByName(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .write.mode("overwrite").parquet(s"$dir/graph_edges.parquet")
    val num = numericPairs(pairs0)
    val off =
      offset(num.select(greatest(col("a_id"), col("b_id")).as("v")), "v")
    copiesOf(num, 0 until copies, Map("a_id" -> off, "b_id" -> off))
      .write.mode("overwrite").parquet(s"$dir/graph_pairs_num.parquet")
    off
  }

  /** Stage the events of `dir` for a file-source stream: `nChunks`
    * event-time-range chunks under `stage/chunk=k`, plus one far-future
    * event per user under `stage/sentinel` that closes every open
    * session. [[admit]] moves them into the feed. */
  def stageEventFeed(spark: SparkSession, dir: String, stage: String,
      nChunks: Int): Unit = {
    val evs = Tables(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
    val mm = evs.agg(min("ts_us"), max("ts_us")).head
    val span = (mm.getLong(1) - mm.getLong(0)) / nChunks + 1
    // integer DIV: a boundary event lands in exactly one chunk
    evs.withColumn("chunk",
        expr(s"CAST((ts_us - ${mm.getLong(0)}L) DIV ${span}L AS INT)"))
      .repartition(nChunks, col("chunk"))
      .write.mode("overwrite").partitionBy("chunk").parquet(stage)
    evs.select(col("user_id")).distinct()
      .select(col("user_id"),
        lit(mm.getLong(1) + 10 * Streams.GapUs).as("ts_us"),
        lit(Long.MaxValue).as("event_id"))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$stage/sentinel")
  }

  /** Move staged chunks `chunks` (then the sentinel, if `sentinel`) into
    * `feed`, with modification times in chunk order: a file source with
    * `maxFilesPerTrigger=1` then reads one chunk per micro-batch. */
  def admit(stage: String, feed: String, chunks: Range,
      sentinel: Boolean): Unit = {
    val t0ms = System.currentTimeMillis() - 3600000L
    new java.io.File(feed).mkdirs()
    def move(dir: String, name: Int => String, at: Long): Unit =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          val to = new java.io.File(feed, name(i))
          java.nio.file.Files.move(f.toPath, to.toPath)
          require(to.setLastModified(at), s"setLastModified failed on $to")
        }
    for (k <- chunks)
      move(s"$stage/chunk=$k", i => f"b$k%03d-$i.parquet", t0ms + k * 1000L)
    if (sentinel)
      move(s"$stage/sentinel", i => s"zz-sentinel-$i.parquet",
        t0ms + 1000000L)
  }

  // ---- one run of the laws -------------------------------------------------

  /** The laws over `src` blown up ×copies, written under `work`. With
    * `shapes`, the shape laws run too: a task-metrics listener is
    * installed, the ×copies/10 tier is built, and the ×copies runs get
    * shuffle partitions grown with the corpus ([[wide]]). */
  final class Run(val spark: SparkSession, val src: String,
      val copies: Int, val work: String, val shapes: Boolean) {
    require(copies >= 2, s"a blow-up law needs copies >= 2, got $copies")
    val lo: Int = math.max(copies / 10, 1)
    val laws = mutable.ArrayBuffer[Law]()
    private var group = ""
    private val metrics = new TaskMetrics
    if (shapes) spark.sparkContext.addSparkListener(metrics)
    def close(): Unit =
      if (shapes) spark.sparkContext.removeSparkListener(metrics)

    /** Run [[groups]] member `name`; returns its laws. */
    def runGroup(name: String): Seq[Law] =
      runGroup(name, groups.find(_._1 == name).getOrElse(
        throw new IllegalArgumentException(s"no law group $name"))._2)

    /** Run `body`'s laws as group `name`; returns them. A group that
      * throws records one failed law and the run goes on. */
    def runGroup(name: String, body: Run => Unit): Seq[Law] = {
      group = name
      val from = laws.size
      try body(this)
      catch { case NonFatal(e) =>
        record("group ran to the end", exact = true, ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      laws.drop(from).toSeq
    }

    private def record(name: String, exact: Boolean, ok: Boolean,
        detail: => String): Unit = {
      val law = Law(group, name, exact, if (ok) None else Some(detail))
      laws += law
      if (shapes) println(s"SCALE| $law")
    }
    def exact(name: String, ok: Boolean, detail: => String): Unit =
      record(name, exact = true, ok, detail)
    def shape(name: String, ok: Boolean, detail: => String): Unit =
      record(name, exact = false, ok, detail)

    /** Exact law `name`: `got` holds `want`'s rows with the same
      * multiplicities, compared on `want`'s columns. `want` must be
      * non-empty, so the law cannot hold vacuously. One aggregate: every
      * row is counted per side, grouped on all columns. */
    def sameSet(name: String, got: DataFrame, want: DataFrame): Unit = {
      val cs = want.columns.toSeq.map(col)
      def tag(df: DataFrame, g: Long) =
        df.select(cs :+ lit(g).as("_g") :+ lit(1L - g).as("_w"): _*)
      val d = tag(got, 1L).unionByName(tag(want, 0L)).groupBy(cs: _*)
        .agg(sum("_g").as("g"), sum("_w").as("w"))
        .agg(sum(greatest(col("g") - col("w"), lit(0L))),
          sum(greatest(col("w") - col("g"), lit(0L))), sum("w")).head
      def n(i: Int) = if (d.isNullAt(i)) 0L else d.getLong(i)
      exact(name, n(2) > 0 && n(0) == 0 && n(1) == 0,
        s"${n(0)} unexpected rows, ${n(1)} missing of ${n(2)} expected")
    }

    private val built = mutable.Set[(Int, String)]()
    /** The dir of the ×c corpus, with `tables` blown up ×c there (once per
      * run). Built at ×1 too: the generator's file layout, not the
      * testdata's single file, so two tiers differ only in size. */
    def corpus(c: Int, tables: String*): String = {
      for (t <- tables if built.add((c, t)))
        blowUpTable(spark, src, t, c, s"$work/x$c")
      s"$work/x$c"
    }

    private val offs = mutable.Map[(String, String), Long]()
    /** The shift of `table`'s `key` per copy. */
    def off(table: String, key: String): Long =
      offs.getOrElseUpdate((table, key),
        offset(Tables(spark, src, table), key))

    /** `df` as `copies` copies, shifting `shifts`: the blow-up of a base
      * answer. */
    def blown(df: DataFrame, shifts: (String, Long)*): DataFrame =
      copiesOf(df, 0 until copies, shifts.toMap)

    def q(name: String, dir: String): DataFrame =
      SparkEntry.queries(name)(spark, dir)
    def out(name: String): DataFrame = spark.read.parquet(s"$work/out/$name")

    /** Write `df` to `out/<name>` and return the write's shape. `df` is
      * by-name: the round loops run while the frame is built, so it is
      * built inside the measured region. Each law reads the written
      * output, so a query runs once however many laws read it. */
    def timed(name: String, df: => DataFrame): Shape = {
      metrics.reset()
      val t0 = System.nanoTime()
      df.write.mode("overwrite").parquet(s"$work/out/$name")
      val s = measured(t0)
      if (shapes)
        println(f"SCALE| $name%-34s ${s.wall}%7.2f s  peakTask " +
          f"${mb(s.peak)}%5d MB  shufW ${mb(s.shuffle)}%5d MB  spill " +
          f"${mb(s.spill)}%5d MB  tasks ${s.tasks}%6d")
      s
    }

    /** The shape of what ran since `t0` (wall only without `shapes`). */
    private def measured(t0: Long): Shape = {
      val wall = (System.nanoTime() - t0) / 1e9
      if (shapes) metrics.settle(wall) else Shape(0, 0, 0, 0, 0, wall)
    }

    /** Run `body` with shuffle partitions grown by copies/lo, as a cluster
      * grows them with its input, when shape laws run: with partitions
      * fixed, per-task input grows with the corpus and a peak or spill law
      * measures the harness, not the operator. */
    def wide[T](body: => T): T =
      if (!shapes) body else {
        val k = "spark.sql.shuffle.partitions"
        val base = spark.conf.get(k)
        spark.conf.set(k, (base.toInt * copies / lo).toString)
        try body finally spark.conf.set(k, base)
      }

    /** The largest share of the execution pool one task may take before
      * it spills: a sort under pressure legitimately grows toward it. */
    def fairShare: Long = (Runtime.getRuntime.maxMemory * 0.6 /
      spark.sparkContext.defaultParallelism * 1.5).toLong

    /** Shape law: `hi` over `lo`'s shuffle bytes lies in
      * [low, high]·(copies/lo), i.e. shuffle grows linearly, not with an
      * accidental cross product or re-read. */
    def linearShuffle(name: String, lo: Shape, hi: Shape, low: Double,
        high: Double): Unit = {
      val step = copies.toDouble / this.lo
      val ratio = hi.shuffle.toDouble / math.max(lo.shuffle, 1L)
      shape(s"$name shuffle bytes scale ~linearly (×${this.lo}→×$copies)",
        ratio >= step * low && ratio <= step * high,
        f"ratio $ratio%.2f vs step $step%.0f " +
          s"(${mb(lo.shuffle)} MB → ${mb(hi.shuffle)} MB)")
    }

    /** Drain the chunk stream `start` returns and return its data
      * batches' (batchId, rows, trigger seconds) in id order, with the
      * drain's shape. Exact law: the feed drained in `nChunks` data
      * batches. */
    def drain(label: String, nChunks: Int)(
        start: => StreamingQuery): (Seq[(Long, Long, Double)], Shape) = {
      metrics.reset()
      val t0 = System.nanoTime()
      val sq = start
      sq.awaitTermination()
      val s = measured(t0)
      val batches = sq.recentProgress.filter(_.numInputRows > 0)
        .map(p => (p.batchId, p.numInputRows,
          p.durationMs.get("triggerExecution").toDouble / 1000))
        .sortBy(_._1).toSeq
      if (shapes) {
        println(f"SCALE| $label drain ${s.wall}%7.2f s  peakTask " +
          f"${mb(s.peak)} MB  spill ${mb(s.spill)} MB  jobs ${s.jobs} over " +
          f"$nChunks batches = ${s.jobs.toDouble / nChunks}%.1f /batch")
        batches.foreach { case (b, n, w) =>
          println(f"SCALE| $label batch $b: $n%9d rows $w%7.2f s") }
      }
      exact(s"$label drained the staged feed in $nChunks data batches",
        batches.size == nChunks, s"${batches.size} data batches")
      (batches, s)
    }

    /** Shape law: the last data batch's wall stays within 4× (+10 s) of
      * the first's as state accumulates. */
    def flatBatches(label: String, b: Seq[(Long, Long, Double)]): Unit =
      shape(s"$label per-batch wall flat as state accumulates",
        b.nonEmpty && b.last._3 <= b.head._3 * 4 + 10.0,
        b.headOption.fold("no batches")(h =>
          f"first ${h._3}%.1f s → last ${b.last._3}%.1f s"))

    /** Exact law: compaction keeps at most CompactEvery+1 directories
      * per state kind on disk, at any stream age. */
    def boundedStateDirs(label: String, scratch: String,
        kinds: Seq[String]): Unit =
      for (kind <- kinds) {
        val dirs =
          Option(new java.io.File(s"$scratch/state/$kind").listFiles())
            .getOrElse(Array.empty[java.io.File]).count(_.isDirectory)
        exact(s"$label $kind state dirs bounded by compaction " +
            s"(1 to ${ChunkStream.CompactEvery + 1})",
          dirs >= 1 && dirs <= ChunkStream.CompactEvery + 1, s"$dirs dirs")
      }
  }

  // ---- the law groups ------------------------------------------------------

  /** The law groups, in run order. */
  val groups: Seq[(String, Run => Unit)] = Seq(
    ("full", full), ("text", text), ("embed", embed),
    ("embeddim", embeddim), ("events", events), ("stream", stream),
    ("corpusstream", corpusStream), ("annstream", annStream),
    ("profile", profile), ("graph", graph), ("prefix", prefix),
    ("incr", incr))

  /** Exact law: q_dedup_exact over the documents of `dir` (a ×copies
    * blow-up) is the base families with their counts ×copies. */
  def exactFamilies(r: Run, dir: String): Unit =
    r.sameSet("q_dedup_exact = base families ×copies",
      r.q("q_dedup_exact", dir).select("keep_id", "n_copies"),
      r.q("q_dedup_exact", r.src).select(col("keep_id"),
        (col("n_copies") * r.copies).as("n_copies")))

  /** Min cosine among rank-1 neighbors, if any. */
  private def minRank1Cos(knn: DataFrame): Option[Double] =
    Option(knn.filter(col("rk") === 1).agg(min("cos")).head.get(0))
      .map(_.asInstanceOf[Double])

  /** The kNN laws over a ×copies corpus: 3 rows per ranked (nonzero-norm)
    * vector, and every rank-1 neighbor an identical copy (cos 1.0). */
  private def knnLaws(r: Run, label: String, knn: DataFrame,
      nRanked: Long): Unit = {
    val n = knn.count()
    r.exact(s"$label row count = 3 × nonzero-norm corpus ×copies",
      nRanked > 0 && n == 3L * nRanked * r.copies, s"got $n")
    r.exact(s"$label rank-1 = identical copy (cos 1.0)",
      minRank1Cos(knn).contains(1.0), s"min rank-1 cos ${minRank1Cos(knn)}")
  }

  /** Dedup, near-dup, ANN and text-model rows over blown documents and
    * embeddings. */
  private def full(r: Run): Unit = {
    import r._
    val docs0 = Tables(spark, src, "documents")
    val embs0 = Tables(spark, src, "embeddings")
    val dOff = off("documents", "doc_id")
    val vOff = off("embeddings", "vec_id")
    val x = corpus(copies, "documents", "embeddings")
    val runs = Seq("q_dedup_minhash", "q_dedup_clusters_star",
      "q_dedup_embed_ivf", "q_knn_join", "q_cosine_pairs_gemm",
      "q_pca_power", "q_bpe_merges", "q_phrase_search")
      .map(n => n -> timed(n, q(n, x))).toMap
    exactFamilies(r, x)

    // minhash pairs mapped to copy-0 ids: the base pairs plus one
    // (d, d, 1.0) per banded doc (its copies)
    val banded = docs0.filter(size(split(col("text"), " ")) >= 3)
      .select("doc_id")
    sameSet("q_dedup_minhash = base pairs ∪ a self-pair per banded doc",
      out("q_dedup_minhash").select(
        least(col("a_id") % dOff, col("b_id") % dOff).as("a_id"),
        greatest(col("a_id") % dOff, col("b_id") % dOff).as("b_id"),
        col("jac")).distinct(),
      q("q_dedup_minhash", src).unionByName(banded.select(
        col("doc_id").as("a_id"), col("doc_id").as("b_id"),
        lit(1.0).as("jac"))))

    // every copy of a banded doc takes its base label (the component min
    // lives in copy 0); a base singleton clusters with its own copies
    val labels = q("q_dedup_clusters_star", src)
      .select(col("doc_id"), col("cluster_id"))
    sameSet("q_dedup_clusters_star = base components ×copies",
      out("q_dedup_clusters_star"),
      blown(banded.join(labels, Seq("doc_id"), "left").select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id")),
        "doc_id" -> dOff)
        .withColumn("keep", col("doc_id") === col("cluster_id")))

    // survivor idempotence: one representative per component, so the
    // pair scan over the kept set alone finds nothing
    val kept = out("q_dedup_clusters_star").filter(col("keep"))
      .select("doc_id")
    spark.read.parquet(s"$x/documents.parquet")
      .join(kept, Seq("doc_id"), "left_semi")
      .write.mode("overwrite").parquet(s"$work/kept/documents.parquet")
    val nKept = kept.count()
    val left = q("q_dedup_minhash", s"$work/kept").count()
    exact("survivor set has zero near-dup pairs", nKept > 0 && left == 0,
      s"$left pairs among $nKept survivors")

    // IVF semantic dedup: duplicated members leave every centroid mean
    // bit-identical, so components expand the same way
    sameSet("q_dedup_embed_ivf = base components ×copies",
      out("q_dedup_embed_ivf"),
      blown(q("q_dedup_embed_ivf", src).select("vec_id", "cluster_id"),
        "vec_id" -> vOff)
        .withColumn("keep", col("vec_id") === col("cluster_id")))

    // kNN with the oracle's fixed 8 buckets, and with buckets ∝ corpus
    // (the operator's scale contract): the same laws, and the scaled
    // run's peak task memory falls back toward the per-bucket level
    val nRanked = Sim.dropZeroNorm(spark, embs0).count()
    knnLaws(r, "q_knn_join", out("q_knn_join"), nRanked)
    val scaledK = timed("q_knn_join_scaledk", Sim.knnJoin(spark,
      spark.read.parquet(s"$x/embeddings.parquet")
        .select(col("vec_id"), col("embedding")), 3, 8 * copies))
    knnLaws(r, "scaled-k kNN", out("q_knn_join_scaledk"), nRanked)
    // ≤ ¾, not 1/copies: Spark reports peak execution memory in
    // page-sized steps, so the collapse is coarse at small copies
    // (measured ~0.51 at ×2, ~0.1 at ×10)
    if (shapes) shape("scaled-k kNN peak task memory ≤ ¾ of fixed-k's",
      scaledK.peak <= runs("q_knn_join").peak * 3 / 4,
      s"${mb(scaledK.peak)} MB vs ${mb(runs("q_knn_join").peak)} MB")

    // the forced blocked-GEMM arm, mapped to copy-0 ids: the base
    // broadcast-arm pairs plus a self-pair per nonzero vector
    sameSet("q_cosine_pairs_gemm = base pairs ∪ a self-pair per vector",
      out("q_cosine_pairs_gemm").select(
        least(col("a_id") % vOff, col("b_id") % vOff).as("a_id"),
        greatest(col("a_id") % vOff, col("b_id") % vOff).as("b_id"),
        col("cos")).distinct(),
      q("q_cosine_pairs", src).unionByName(Sim.dropZeroNorm(spark, embs0)
        .select(col("vec_id").as("a_id"), col("vec_id").as("b_id"),
          lit(1.0).as("cos"))))

    // power iteration consumes only the duplication-invariant covariance
    sameSet("q_pca_power invariant under duplication", out("q_pca_power"),
      q("q_pca_power", src))
    // word-type counts scale uniformly, so the merge list is the same
    sameSet("q_bpe_merges = base merges with counts ×copies",
      out("q_bpe_merges"),
      q("q_bpe_merges", src).withColumn("n", col("n") * copies))
    sameSet("q_phrase_search = base matches per copy",
      out("q_phrase_search"),
      blown(q("q_phrase_search", src), "doc_id" -> dOff))
  }

  /** The inverted index, substring dedup, span cut and the composed
    * corpus pipeline over blown documents. */
  private def text(r: Run): Unit = {
    import r._
    val dOff = off("documents", "doc_id")
    val x = corpus(copies, "documents")
    // the unsharded index's per-term postings buffer is df-sized and runs
    // out of memory by design past ×100; the sharded arm is its scale form
    val unsharded = copies <= 100
    val names = Seq("q_inverted_index_shard", "q_substring_dup") ++
      (if (unsharded) Seq("q_inverted_index") else Nil)
    val hi = wide(names.map(n => n -> timed(n, q(n, x))).toMap)
    if (unsharded) sameSet("sharded index = unsharded index",
      out("q_inverted_index_shard"), out("q_inverted_index"))
    sameSet("inverted index df/cf = base ×copies",
      out("q_inverted_index_shard").select("term", "df", "cf"),
      q("q_inverted_index", src).select(col("term"),
        (col("df") * copies).as("df"), (col("cf") * copies).as("cf")))

    // every window of a copied doc is duplicated across docs
    val sub = out("q_substring_dup")
    val nSub = sub.count()
    val partial = sub.filter(col("dup_fraction") =!= 1.0).count()
    exact("q_substring_dup: every doc fully duplicated",
      nSub > 0 && partial == 0, s"$partial of $nSub docs partly duplicated")
    sameSet("q_substring_dup window counts per copy",
      sub.select("doc_id", "n_windows"),
      blown(q("q_substring_dup", src).select("doc_id", "n_windows"),
        "doc_id" -> dOff))

    // span cut: a ≥10-token doc's windows are all duplicated, so it is cut
    // to zero tokens; shorter docs emit no windows and stay whole
    timed("q_dedup_span_cut", q("q_dedup_span_cut", x))
    val span = out("q_dedup_span_cut")
    val nLong = span.filter(col("n_tokens") >= 10).count()
    val bad = span.filter(
      (col("n_tokens") >= 10 && col("n_kept") =!= 0L) ||
        (col("n_tokens") < 10 && col("n_kept") =!= col("n_tokens"))).count()
    exact("q_dedup_span_cut: long docs fully cut, short intact",
      nLong > 0 && bad == 0, s"$bad docs break the law ($nLong long docs)")

    // the composed pipeline: the per-doc gates (stages 0-2) scale ×c and
    // exact dedup collapses every family onto the base corpus, so every
    // later stage equals the base run
    def attrition(df: DataFrame) = df.collect().map(row =>
      row.getAs[Int]("stage_ord") -> (row.getAs[String]("stage"),
        row.getAs[Long]("n_docs"))).toMap
    val base = attrition(q("q_corpus_pipeline", src))
    for (c <- if (shapes) Seq(lo, copies).distinct else Seq(copies)) {
      val got =
        if (c == copies) wide(attrition(q("q_corpus_pipeline", x)))
        else attrition(q("q_corpus_pipeline", corpus(c, "documents")))
      val want = base.map { case (o, (s, n)) => o -> (s, if (o <= 2) n * c
        else n) }
      exact(s"corpus pipeline attrition derivable from base at ×$c",
        base.nonEmpty && got == want, s"got $got, want $want")
    }

    if (shapes) {
      val xl = corpus(lo, "documents")
      val low = Seq("q_inverted_index_shard", "q_substring_dup")
        .map(n => n -> timed(s"${n}_x$lo", q(n, xl))).toMap
      // [0.6, 1.5]: compression and AQE coalescing move the constant
      // (measured 1.00–1.30× over ×10→×100)
      for (n <- low.keys) linearShuffle(n, low(n), hi(n), 0.6, 1.5)
      val (pLo, pHi) = (low("q_substring_dup").peak, hi("q_substring_dup").peak)
      shape("q_substring_dup peak ≤ max(2× lo tier, pool fair share)",
        pHi <= math.max(math.max(pLo, 64L << 20) * 2, fairShare),
        s"${mb(pHi)} MB vs ${mb(pLo)} MB at ×$lo, share ${mb(fairShare)} MB")
    }
  }

  /** Scaled-bucket kNN, dedup-first kNN, quantization, covariance,
    * diversity sampling and frozen-centroid ANN over blown embeddings. */
  private def embed(r: Run): Unit = {
    import r._
    val embs0 = Tables(spark, src, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val vOff = off("embeddings", "vec_id")
    val x = corpus(copies, "embeddings")
    val blownE = spark.read.parquet(s"$x/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val nRanked = Sim.dropZeroNorm(spark, embs0).count()

    // dedup-first kNN: one representative per distinct vector, kNN at the
    // base bucket count, every copy expanded to its representative's list
    val reps = blownE.groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("rep_id"))
    val dedupFirst = timed("knn_dedup_first", Sim.knnJoin(spark,
      reps.select(col("rep_id").as("vec_id"), col("embedding")), 3, 8))
    val expanded = blownE.join(reps, Seq("embedding"))
      .select(col("vec_id"), col("rep_id"))
      .join(out("knn_dedup_first").select(col("vec_id").as("rep_id"),
        col("nn_id"), col("rk")), Seq("rep_id"))
      .count()
    exact("dedup-first kNN expansion covers every copy ×k",
      nRanked > 0 && expanded == 3L * nRanked * copies,
      s"got $expanded, want ${3L * nRanked * copies}")

    // per-dim min/max are duplication-invariant, so every copy's codes
    // are its original's; covariance sums and counts scale together
    for (n <- Seq("q_embed_quantize", "q_pca_cov", "q_diversity_sample"))
      timed(n, q(n, x))
    sameSet("q_embed_quantize codes per copy = base",
      out("q_embed_quantize"),
      blown(q("q_embed_quantize", src), "vec_id" -> vOff))
    sameSet("q_pca_cov invariant under duplication", out("q_pca_cov"),
      q("q_pca_cov", src))

    // duplication leaves the 8 k-means centroids as they are, so each
    // bucket holds its base members ×copies and the sample keeps
    // min(40, that) of them; the md5-priority pick is deterministic
    val div = out("q_diversity_sample")
    sameSet("q_diversity_sample keeps min(40, base bucket ×copies) per bucket",
      div.groupBy("bucket").count(),
      Sim.kmeansIterate(spark, Sim.dropZeroNorm(spark, embs0), 8, 2)
        .groupBy("bucket").count()
        .select(col("bucket"), least(col("count") * copies, lit(40L))
          .as("count")))
    sameSet("q_diversity_sample rerun-deterministic", div,
      q("q_diversity_sample", x))

    // Frozen-centroid ANN: centroids trained on the base corpus make every
    // blown bucket the ×copies blow-up of its base bucket. Under (cos
    // DESC, vec_id) ranking a copy outside a base top-10 has 10 better
    // copy-0 predecessors, so the blown top-10 is the re-ranked blow-up of
    // the base top-10, for the exact and the IVF arm. A query's own
    // copies (id ≡ q_id mod vOff) are excluded: they would make recall
    // trivially 1.0.
    val base = Sim.dropZeroNorm(spark, embs0).localCheckpoint()
    val cents = Sim.centroidsOf(Sim.kmeansIterate(spark, base, 8, 2))
      .localCheckpoint()
    val qs = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_v"))
      .localCheckpoint()
    val wq = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    def top10(cands: DataFrame): DataFrame = cands
      .filter(col("vec_id") % lit(vOff) =!= col("q_id"))
      .withColumn("cos", Sim.cosine(spark, col("embedding"), col("q_v")))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("vec_id").as("nn_id"), col("cos"), col("rk"))
    def exactArm(e: DataFrame) = top10(e.crossJoin(broadcast(qs)))
    def ivfArm(e: DataFrame) = {
      val cw = Window.partitionBy("q_id")
        .orderBy(col("c_cos").desc, col("c_id"))
      val probes = qs.crossJoin(broadcast(cents))
        .withColumn("c_cos", Sim.cosine(spark, col("q_v"), col("c_v")))
        .withColumn("c_rk", row_number().over(cw))
        .filter(col("c_rk") <= 2)
        .select(col("q_id"), col("q_v"), col("c_id").as("bucket"))
      top10(Sim.assignByArray(spark, e, cents).join(probes, Seq("bucket")))
    }
    // cos carries over from the base member (identical vectors)
    def blowUpTop10(arm: DataFrame) =
      blown(arm.select(col("q_id"), col("nn_id").as("vec_id"), col("cos")),
          "vec_id" -> vOff)
        .withColumn("rk", row_number().over(wq))
        .filter(col("rk") <= 10)
        .select(col("q_id"), col("vec_id").as("nn_id"), col("cos"), col("rk"))
    val blownZ = Sim.dropZeroNorm(spark, blownE)
    timed("ann_recall_exact", exactArm(blownZ))
    timed("ann_recall_ivf", ivfArm(blownZ))
    sameSet("frozen-centroid exact top-10 = blow-up of base top-10",
      out("ann_recall_exact"), blowUpTop10(exactArm(base)))
    sameSet("frozen-centroid IVF top-10 = blow-up of base top-10",
      out("ann_recall_ivf"), blowUpTop10(ivfArm(base)))

    if (shapes) {
      val hits = out("ann_recall_exact").select("q_id", "nn_id")
        .intersect(out("ann_recall_ivf").select("q_id", "nn_id")).count()
      println(s"SCALE| frozen-centroid recall@10 at ×$copies: $hits/" +
        out("ann_recall_exact").count())
      // kNN under its scale contract (buckets ∝ corpus) at both tiers
      def knnAt(c: Int) = Sim.knnJoin(spark,
        spark.read.parquet(s"${corpus(c, "embeddings")}/embeddings.parquet")
          .select(col("vec_id"), col("embedding")), 3, 8 * c)
      val mLo = timed(s"knn_scaled_x$lo", knnAt(lo))
      val mHi = wide(timed(s"knn_scaled_x$copies", knnAt(copies)))
      // upper bound only: identical copies compress sub-linearly
      linearShuffle("scaled-bucket kNN", mLo, mHi, 0.0, 1.5)
      // identical vectors share a bucket, so occupancy never drops below
      // the copy count: past corpus/buckets copies the rank stage's pair
      // work grows as (occupancy ratio)² and no bucket count stops it
      val nVecs = embs0.count()
      val occ = (c: Int) => math.max(nVecs / 8, c.toLong).toDouble
      val allow = math.max(4.0, math.pow(occ(copies) / occ(lo), 2) * 1.5)
      shape("scaled-bucket kNN peak within the occupancy-floor model",
        mHi.peak <= math.max(mLo.peak, 64L << 20) * allow,
        f"${mb(mHi.peak)} MB vs ${mb(mLo.peak)} MB at ×$lo (allows " +
          f"×$allow%.1f)")
      shape("dedup-first kNN peak at the lo tier's level",
        dedupFirst.peak <= math.max(mLo.peak, 64L << 20) * 2,
        s"${mb(dedupFirst.peak)} MB vs ${mb(mLo.peak)} MB at ×$lo")
    }
  }

  /** The dimension axis: 64-dim vectors zero-padded (bit-exact) and
    * tiled (content-realistic) to 64·Tiles dims at ×copies rows. */
  val Tiles = 16

  private def embeddim(r: Run): Unit = {
    import r._
    val dimHi = 64 * Tiles
    val d64 = corpus(copies, "embeddings")
    def widened(name: String, expand: Column => Column): String = {
      spark.read.parquet(s"$d64/embeddings.parquet")
        .withColumn("embedding", expand(col("embedding")))
        .write.mode("overwrite").parquet(s"$work/$name/embeddings.parquet")
      s"$work/$name"
    }
    def vecs(dir: String) = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // zero padding: x + 0·0 = x, so every dot, norm, centroid and cosine
    // is bit-identical to the 64-dim one, over full-width rows
    val pad = widened("pad",
      e => concat(e, array_repeat(lit(0.0f), 64 * (Tiles - 1))))

    timed("knn_64d", Sim.knnJoin(spark, vecs(d64), 3, 8 * copies))
    timed("knn_pad", Sim.knnJoin(spark, vecs(pad), 3, 8 * copies))
    sameSet(s"kNN bit-invariant under zero-pad 64d→${dimHi}d",
      out("knn_pad"), out("knn_64d"))

    // the blocked GEMM join with production block sizing: blocking never
    // changes a pair's cosine, only which task computes it
    val par = spark.sparkContext.defaultParallelism
    def gemm(dir: String) = {
      val v = vecs(dir)
      val blocks =
        Sim.blocksFor(v.queryExecution.optimizedPlan.stats.sizeInBytes, par)
      (blocks, Sim.blockedCosineJoin(spark, v, 0.992, blocks))
    }
    val (bLo, gLoDf) = gemm(d64)
    val gLo = timed("gemm_64d", gLoDf)
    val (bHi, gHiDf) = gemm(pad)
    val gHi = timed("gemm_pad", gHiDf)
    sameSet(s"GEMM pairs bit-invariant under zero-pad 64d→${dimHi}d",
      out("gemm_pad"), out("gemm_64d"))

    // PQ at m = dim/8 subspaces emits exactly m codes per vector
    val m = dimHi / 8
    val padded = vecs(pad)
    val cb = Sim.pqCodebook(spark, padded, m, 8, 16).localCheckpoint()
    val pq = timed("pq_encode_pad", Sim.pqEncode(spark, padded, cb, m, 8))
    val nVecs = Tables(spark, src, "embeddings").count()
    val codes = out("pq_encode_pad").count()
    exact(s"PQ encode at m=$m emits m·n codes",
      nVecs > 0 && codes == m.toLong * nVecs * copies,
      s"$codes rows, want ${m.toLong * nVecs * copies}")

    if (shapes) {
      shape("PQ encode zero spill", pq.spill == 0, s"${mb(pq.spill)} MB")
      // k-means assignment over tiled vectors: wall at most dim-linear
      // (×3 slack: the law catches a dim² kernel), peak within the
      // dim-scaled model, no spill
      val tiled = widened("tiled", e => flatten(array_repeat(e, Tiles)))
      def kmeans(dir: String) =
        Sim.kmeansIterate(spark, Sim.dropZeroNorm(spark, vecs(dir)),
          8 * copies, 2)
      val kLo = timed("kmeans_64d", kmeans(d64))
      val kHi = timed("kmeans_tiled", kmeans(tiled))
      shape("k-means assignment zero spill", kLo.spill == 0 && kHi.spill == 0,
        s"${mb(kLo.spill)} / ${mb(kHi.spill)} MB")
      shape(s"k-means wall ≤ dim-linear ×3 (64d→${dimHi}d)",
        kHi.wall <= kLo.wall * Tiles * 3 + 5,
        f"${kLo.wall}%.1f → ${kHi.wall}%.1f s")
      shape("k-means peak within the dim-scaled model",
        kHi.peak <= math.max(kLo.peak, 64L << 20) * Tiles * 1.5,
        s"${mb(kHi.peak)} MB vs ${mb(kLo.peak)} MB at 64d")
      shape("GEMM zero spill", gLo.spill == 0 && gHi.spill == 0,
        s"${mb(gLo.spill)} / ${mb(gHi.spill)} MB")
      shape(s"GEMM wall ≤ dim-linear ×3 (64d→${dimHi}d)",
        gHi.wall <= gLo.wall * Tiles * 3 + 5,
        f"${gLo.wall}%.1f → ${gHi.wall}%.1f s")
      // block sizing's parallelism floor is dim-independent, so the pair
      // grid (and the task count) grows at most dim-linearly
      shape("GEMM task count sub-quadratic in dim",
        gHi.tasks <= gLo.tasks * Tiles,
        s"tasks ${gLo.tasks} → ${gHi.tasks}, blocks $bLo → $bHi")
      // two blocks of raw data × ~2 for JVM object overhead, with the
      // serialized copies still in the fetch buffers (measured 3.9× at
      // 1024d ×100): peak follows the block model, never corpus rows
      shape("GEMM per-task peak within the block model (4·MaxBlockBytes)",
        gHi.peak <= 4 * Sim.MaxBlockBytes, s"${mb(gHi.peak)} MB")
      val raw = 2 * vecs(pad).queryExecution.optimizedPlan.stats
        .sizeInBytes.toLong / bHi
      val ratio = gHi.peak.toDouble / math.max(raw, 1L)
      println(f"SCALE| GEMM peak/raw-2-block ratio $ratio%.2f")
      if (raw >= (32L << 20)) shape("GEMM peak/raw ratio ≤ 4.2",
        ratio <= 4.2, f"ratio $ratio%.2f")
    }
  }

  /** Product-analytics rows over blown events: copy k of user u is user
    * u + k·uOff with event ids shifted and ts unchanged, so every user
    * copy replays its original's stream. */
  private def events(r: Run): Unit = {
    import r._
    val uOff = off("events", "user_id")
    val eOff = off("events", "event_id")
    val x = corpus(copies, "events")
    val sess = wide(timed("q_sessionize", q("q_sessionize", x)))
    def perCopy(name: String, cols: Seq[String],
        shifts: (String, Long)*): Unit =
      sameSet(s"$name = base rows per copy",
        out(name).select(cols.map(col): _*),
        blown(q(name, src).select(cols.map(col): _*), shifts: _*))
    perCopy("q_sessionize",
      Seq("user_id", "session_id", "n_events", "start_us", "end_us"),
      "user_id" -> uOff)
    // counts ×copies
    for ((name, same, scaled) <- Seq(
        ("q_funnel", Nil, Seq("n_signup", "n_click", "n_purchase")),
        ("q_funnel_windowed", Nil, Seq("n_signup", "n_click", "n_purchase")),
        ("q_cohort_retention", Seq("c0", "offset_h"), Seq("n_users")),
        ("q_event_transitions", Seq("cur", "nxt"), Seq("n")))) {
      timed(name, q(name, x))
      sameSet(s"$name counts = base ×copies",
        out(name).select((same ++ scaled).map(col): _*),
        q(name, src).select(same.map(col) ++
          scaled.map(c => (col(c) * copies).as(c)): _*))
    }
    // matches never cross copies (disjoint users), and a copy's order is
    // its original's shifted by a constant
    for (n <- Seq("q_session_attrib", "q_join_asof_nearest", "q_ewma"))
      wide(timed(n, q(n, x)))
    perCopy("q_session_attrib", Seq("user_id", "session_id", "n_events",
      "first_touch", "last_touch", "n_purchases", "purchase_value"),
      "user_id" -> uOff)
    perCopy("q_join_asof_nearest",
      Seq("user_id", "click_id", "purchase_id", "delta_us"),
      "user_id" -> uOff, "click_id" -> eOff, "purchase_id" -> eOff)
    perCopy("q_ewma", Seq("user_id", "event_id", "ewma_micros"),
      "user_id" -> uOff, "event_id" -> eOff)

    if (shapes) {
      val low =
        timed(s"q_sessionize_x$lo", q("q_sessionize", corpus(lo, "events")))
      // two-sided: user ids differ per copy, so nothing compresses away
      linearShuffle("q_sessionize", low, sess, 0.6, 1.5)
      shape("q_sessionize peak ≤ max(4× lo tier, pool fair share)",
        sess.peak <= math.max(math.max(low.peak, 64L << 20) * 4, fairShare),
        s"${mb(sess.peak)} MB vs ${mb(low.peak)} MB at ×$lo")
    }
  }

  /** File-source sessionize on the RocksDB state store over the blown
    * events, fed in event-time chunks with a full stop and checkpoint
    * restart halfway, against its batch twin. */
  private def stream(r: Run): Unit = {
    import r._
    import spark.implicits._
    val nChunks = 12
    val x = corpus(copies, "events")
    wide(timed("q_sessionize_twin", q("q_sessionize", x)))
    val nUsers = Tables(spark, x, "events").select("user_id").distinct().count()
    val (stage, feed) = (s"$work/feed_stage", s"$work/feed")
    val (sink, ckpt) = (s"$work/stream_sessions", s"$work/ckpt_stream")
    stageEventFeed(spark, x, stage, nChunks)
    Seq(feed, sink, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    // (peak state rows, data batches, ran on RocksDB)
    def drive(): (Long, Int, Boolean) = {
      val sq = Streams.sessionize(spark.readStream
          .schema("user_id BIGINT, ts_us BIGINT, event_id BIGINT")
          .option("maxFilesPerTrigger", "1").parquet(feed).as[Streams.Ev])
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        sq.processAllAvailable()
        val ops = sq.recentProgress.flatMap(_.stateOperators)
        (if (ops.isEmpty) 0L else ops.map(_.numRowsTotal).max,
          sq.recentProgress.count(_.numInputRows > 0),
          ops.exists(_.customMetrics.keySet.asScala
            .exists(_.contains("rocksdb"))))
      } finally sq.stop()
    }
    val (k, v) = Streams.RocksDbProvider
    val prior = spark.conf.getOption(k)
    spark.conf.set(k, v)
    val half = nChunks / 2
    val ((peak1, n1, rocks1), (peak2, n2, rocks2)) = try {
      admit(stage, feed, 0 until half, sentinel = false)
      val p1 = drive()
      admit(stage, feed, half until nChunks, sentinel = true)
      (p1, drive())
    } finally prior.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    exact("stream sessionize ran on RocksDB state (both phases)",
      rocks1 && rocks2, s"phase 1 $rocks1, phase 2 $rocks2")
    exact(s"feed read in ≥ $nChunks micro-batches", n1 + n2 >= nChunks,
      s"${n1 + n2} data batches")
    exact("stream state bounded by users, not events",
      math.max(peak1, peak2) <= nUsers,
      s"${math.max(peak1, peak2)} state rows > $nUsers users")
    exact("restart recovered live state (sessions span the cut)", peak1 > 0,
      "phase 1 ended with empty state")
    val cols = Seq("user_id", "n_events", "start_us", "end_us").map(col)
    sameSet("stream sessionize (with a restart) == batch q_sessionize",
      spark.read.parquet(sink).select(cols: _*),
      out("q_sessionize_twin").select(cols: _*))
  }

  /** The incremental curation stream (q_stream_corpus_pipeline) over
    * blown documents: exact text copies under fresh ids, the hardest
    * case for accumulated state, which must collapse them onto copy 0. */
  private def corpusStream(r: Run): Unit = {
    import r._
    val nDocs = Tables(spark, src, "documents").count()
    val x = corpus(copies, "documents")
    // the batch-count shape law needs ≥ 32 batches; the rest hold at any
    val nChunks = if (shapes) 32 else 6
    val scratch = s"$work/cscratch"
    Dedup.stageCorpusFeed(spark, x, nChunks, s"$work/cfeed")
    val (batches, _) = drain("corpus-stream", nChunks)(
      Dedup.startCorpusStream(spark, s"$work/cfeed", scratch))
    boundedStateDirs("corpus-stream", scratch,
      Seq("hash", "sh", "band", "s4", "counts"))
    // state ∝ the curated corpus, not the stream length
    val st = new ChunkStream.State(spark, scratch)
    val n3 = st.read("counts").agg(sum("n3")).head.getLong(0)
    val Seq(hash, sh, band) = Seq("hash", "sh", "band").map(st.read(_).count())
    exact("corpus-stream hash and shingle state rows == stage-3 survivors",
      n3 > 0 && hash == n3 && sh == n3, s"hash $hash, sh $sh, n3 $n3")
    exact("corpus-stream band state an exact per-survivor multiple",
      n3 > 0 && band % n3 == 0, s"bands $band, n3 $n3")
    exact("corpus-stream survivors ≤ base docs (copies collapse)",
      n3 <= nDocs, s"n3 $n3 vs $nDocs base docs")
    sameSet("corpus-stream final report == batch pipeline",
      Dedup.corpusStreamResult(spark, scratch),
      Dedup.corpusPipeline(spark, spark.read.parquet(s"$x/documents.parquet")))
    if (shapes) {
      flatBatches("corpus-stream", batches)
      // flat in the NUMBER of prior batches: compare an early and the
      // last eighth of the run (past warm-up, each holding compactions)
      if (batches.size >= 32) {
        val w = batches.map(_._3)
        val win = w.size / 8
        val (early, late) = (w.slice(2 * win, 3 * win), w.takeRight(win))
        val (mE, mL) = (early.sum / win, late.sum / win)
        shape("corpus-stream per-batch wall flat in batch count",
          mL <= mE * 1.5 + 5.0, f"early mean $mE%.1f s → late mean $mL%.1f s")
      }
    }
  }

  /** The streaming IVF index (q_stream_ann_index) over blown embeddings:
    * identical copies land in identical frozen buckets and every integer
    * partial scales ×copies, so the report is the base batch report with
    * n_vecs ×copies and everything else bit-identical. */
  private def annStream(r: Run): Unit = {
    import r._
    val nChunks = 8
    val x = corpus(copies, "embeddings")
    val scratch = s"$work/ascratch"
    Sim.stageEmbedFeed(spark, x, nChunks, s"$work/afeed")
    val (batches, s) = drain("annstream", nChunks)(
      Sim.startAnnIndexStream(spark, s"$work/afeed", scratch))
    boundedStateDirs("annstream", scratch, Seq("cents", "stats", "dims"))
    sameSet("annstream report == base batch report with n_vecs ×copies",
      Sim.annIndexStreamResult(spark, scratch),
      Sim.annIndexBatchReport(spark, src)
        .withColumn("n_vecs", col("n_vecs") * copies))
    if (shapes) {
      flatBatches("annstream", batches)
      shape("annstream zero spill", s.spill == 0, s"${mb(s.spill)} MB")
    }
  }

  /** The exact and HLL column profiles over blown orders, whose keys
    * shift per copy, so their distinct counts genuinely scale. */
  private def profile(r: Run): Unit = {
    import r._
    val R = Relational
    val o0 = Tables(spark, src, "orders")
    val blownO =
      spark.read.parquet(s"${corpus(copies, "orders")}/orders.parquet")
    val ap =
      timed("profile_approx", R.profileApprox(blownO, R.ordersProfileCols))
    val got = out("profile_approx").collect().map(p =>
      p.getAs[String]("col_name") ->
        (p.getAs[Long]("n_rows"), p.getAs[Long]("nd_approx"))).toMap
    val nRows = o0.count()
    exact("approx profile: 6 rows, n_rows = base ×copies",
      nRows > 0 && got.size == 6 && got.values.forall(_._1 == nRows * copies),
      s"$got")
    // the true ×copies distinct counts, by construction
    for ((n, _) <- R.ordersProfileCols) {
      val truth = o0.select(n).distinct().count() *
        (if (keys("orders").contains(n)) copies else 1)
      val est = got.get(n).fold(-1L)(_._2)
      exact(s"HLL estimate of $n within 4×rsd of the truth ($truth)",
        math.abs(est - truth) <= 4 * 0.05 * truth, s"estimate $est")
    }
    if (shapes) {
      val ex = timed("profile_exact", R.profile(blownO, R.ordersProfileCols))
      shape("approx profile shuffle sketch-bound (≤ exact/10 and ≤ 64 MB)",
        ap.shuffle <= ex.shuffle / 10 && ap.shuffle <= (64L << 20),
        s"approx ${mb(ap.shuffle)} MB vs exact ${mb(ex.shuffle)} MB")
    }
  }

  /** The PageRank and LPA loops over the blown trading graph. Both are
    * round-local, so disjoint copies never interact. */
  private def graph(r: Run): Unit = {
    import r._
    val spokes = 1000L * copies
    val off = blowUpGraph(spark, src, copies, spokes, work)
    val rounds = mutable.ArrayBuffer[(Int, Double)]()
    wide(timed("pagerank", Graph.pagerank(spark,
      spark.read.parquet(s"$work/graph_edges.parquet"), Graph.prRounds,
      onRound = (k, w) => rounds += ((k, w)))))

    // the copies are the base ranks; the planted star (a hub of in-degree
    // 1000·copies on one reduce key) follows a 2-variable recurrence
    // made of pagerank's own ops (⌊·+½⌋ floors, long sums)
    val pairs0 = Graph.tradingPairs(spark, src).localCheckpoint()
    val baseRanks = Graph.pagerank(spark, pairs0.union(
      pairs0.select(col("dst").as("src"), col("src").as("dst"))),
      Graph.prRounds)
    var (rh, rs) = (1000000L, 1000000L)
    for (_ <- 1 to Graph.prRounds) {
      val wS = math.floor(rh.toDouble / spokes.toDouble + 0.5).toLong
      rh = math.floor(150000.0 + 0.85 * (spokes * rs).toDouble + 0.5).toLong
      rs = math.floor(150000.0 + 0.85 * wS.toDouble + 0.5).toLong
    }
    val copyIdx = spark.range(copies).select(col("id").cast("string").as("k"))
    sameSet(s"pagerank = base ranks per copy ∪ the closed-form " +
        s"degree-$spokes star",
      out("pagerank"),
      copyIdx.crossJoin(broadcast(baseRanks))
        .select(concat(col("k"), lit("#"), col("node")).as("node"), col("r"))
        .unionByName(spark.range(0, spokes)
          .select(concat(lit("p:"), col("id").cast("string")).as("node"),
            lit(rs).as("r")))
        .unionByName(spark.range(1).select(lit("h:0").as("node"),
          lit(rh).as("r"))))

    // LPA: self-inclusive mode voting with smallest-label ties is
    // order-isomorphic under the id shift, so labels shift with nodes
    def nodes(p: DataFrame) = p.select(col("a_id").as("v"))
      .union(p.select(col("b_id").as("v"))).distinct()
    val pairsNum = spark.read.parquet(s"$work/graph_pairs_num.parquet")
    wide(timed("graph_lpa", Dedup.lpaRounds(nodes(pairsNum), pairsNum, 3)))
    val np0 = numericPairs(pairs0)
    sameSet("graph_lpa labels shift with the nodes (lbl(v+k·off) = " +
        "lbl(v)+k·off)",
      out("graph_lpa"),
      blown(Dedup.lpaRounds(nodes(np0), np0, 3), "v" -> off, "lbl" -> off))

    if (shapes) shape(s"pagerank per-round wall flat over " +
        s"${Graph.prRounds} rounds",
      rounds.nonEmpty && rounds.last._2 <= rounds.head._2 * 4 + 10.0,
      rounds.map(w => f"${w._2}%.1f").mkString("round walls ", " ", " s"))
  }

  /** The sharded-prefix-sum arms against their single-task window arms
    * over blown documents. */
  private def prefix(r: Run): Unit = {
    import r._
    val arms = Seq("q_sample_budget" -> "q_sample_budget_shard",
      "q_seq_pack" -> "q_seq_pack_shard",
      "q_curriculum" -> "q_curriculum_hist")
    val tiers = if (shapes) Seq(lo, copies) else Seq(copies)
    val runs = (for (c <- tiers) yield {
      val dir = corpus(c, "documents")
      def all = arms.flatMap { case (a, b) => Seq(a, b) }
        .map(n => (n, c) -> timed(s"${n}_x$c", q(n, dir)))
      val m = if (c == copies) wide(all) else all
      for ((win, sh) <- arms)
        sameSet(s"$sh == $win at ×$c", out(s"${sh}_x$c"), out(s"${win}_x$c"))
      m
    }).flatten.toMap
    if (shapes) for ((win, sh) <- arms) {
      val (pLo, pHi) = (runs(sh -> lo), runs(sh -> copies))
      // [0.5, 1.5]: the shard histogram and offset frames are
      // (groups × shards) rows at both tiers, which dilutes the ratio
      linearShuffle(sh, pLo, pHi, 0.5, 1.5)
      shape(s"$sh zero spill", pHi.spill == 0, s"${mb(pHi.spill)} MB")
      shape(s"$sh peak ≤ max(2× lo tier, pool fair share)",
        pHi.peak <= math.max(math.max(pLo.peak, 64L << 20) * 2, fairShare),
        s"${mb(pHi.peak)} MB vs ${mb(pLo.peak)} MB at ×$lo")
      val w = runs(win -> copies)
      println(f"SCALE| single-task evidence: $win ${mb(w.peak)} MB / " +
        f"${w.wall}%.1f s vs $sh ${mb(pHi.peak)} MB / ${pHi.wall}%.1f s")
    }
  }

  /** Batch incremental dedup of a ×copies exact-duplication batch (every
    * fifth doc) against the rest of the corpus. */
  private def incr(r: Run): Unit = {
    import r._
    val docs0 = Tables(spark, src, "documents").select("doc_id", "text")
    val dOff = off("documents", "doc_id")
    val batch0 = docs0.filter(col("doc_id") % 5 === 0).localCheckpoint()
    val rest = docs0.filter(col("doc_id") % 5 =!= 0)
    blown(batch0, "doc_id" -> dOff)
      .write.mode("overwrite").parquet(s"$work/incr_batch.parquet")
    val run = timed("incr_dedup", Dedup.incrementalDedup(spark,
      spark.read.parquet(s"$work/incr_batch.parquet"), rest))
    // copy 0 is the representative set, so its verdicts are the ×1
    // verdicts; every other copy drops as a duplicate, of the corpus if
    // its original was one and of the batch otherwise
    val ref = Dedup.incrementalDedup(spark, batch0, rest).localCheckpoint()
    sameSet("incremental verdicts = the ×1 verdicts' blow-up",
      out("incr_dedup"),
      ref.unionByName(copiesOf(ref, 1 until copies, Map("doc_id" -> dOff))
        .select(col("doc_id"), lit(false).as("keep"),
          when(col("reason") === "exact_corpus", "exact_corpus")
            .otherwise("exact_batch").as("reason"))))
    // near-dup work runs on one representative per text whatever the
    // duplication; the unrestricted form spilled >69 GB at ×156
    if (shapes) shape("incremental dedup spill bounded (≤ 4 GB)",
      run.spill <= (4L << 30), s"${mb(run.spill)} MB")
  }
}
