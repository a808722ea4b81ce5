package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, max, min}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The chunk feed and per-batch state of the incremental foreachBatch
  * streams: q_stream_corpus_pipeline (batch body in [[Dedup]]) and
  * q_stream_ann_index / q_stream_ann_drift (batch body in [[Similarity]]).
  * A batch body writes its output through [[State.put]] and reads
  * committed state through [[State.committed]] / [[State.read]] /
  * [[State.prior]]; no operator spells a state path.
  *
  * Scratch layout: `feed` (the staged chunk files, [[feed]]), `checkpoint`
  * (the stream's offset and commit logs) and `state/<kind>/`, which holds
  *  - `b%06d`: one directory per micro-batch id, written mode=overwrite;
  *  - `c%06d`: a consolidated generation merging every committed id up to
  *    its watermark, complete only once it holds the `_GRAFT_COMPACTED`
  *    marker.
  *
  * Exactly-once comes from the foreachBatch contract plus idempotent state
  * writes, the rule the reference engine's task re-run follows too: a
  * replayed batch (a crash before the offset commit) rewrites its own
  * `b` directories and nothing else, and a batch reads prior state only
  * from ids strictly below its own, so a half-written directory from a
  * killed attempt of THIS batch is never consumed. Prior reads enumerate
  * explicit committed directories, never the kind's root, which could
  * list a half-written one.
  *
  * Compaction bounds the layout: a directory per batch forever pays
  * O(batches) listings and footer opens per batch (O(batches²) over the
  * stream's life) plus the small-files blow-up. Every [[CompactEvery]]
  * batches, before batch `bid` runs, each kind's committed directories
  * up to watermark `bid - 1` merge into `c{bid-1}`, so readers see at
  * most CompactEvery+1 directories per kind at any stream age. Every
  * merged id is committed, so its content is final. The marker is
  * created only after the overwrite-mode parquet job returns, and the
  * merged sources are deleted only after the marker exists. A replay
  * re-enters with the same watermark: a markerless `c` dir is invisible
  * to readers and rebuilds from the still-present sources; a marked one
  * skips to finishing the sweep. StreamKillMain's corpuskill/corpusresume,
  * annkill/annresume and corpuscompactkill[2] phases kill the JVM at each
  * of these points.
  *
  * The state layer goes through the Hadoop FileSystem API, never
  * `java.io.File`: the state root is a cluster URI in production (hdfs://,
  * s3a://), where a java.io listing returns null and a prior read would
  * silently dedup against nothing. `file:` roots resolve to
  * LocalFileSystem through the same API (StreamingSpec drains the corpus
  * stream through one). Only the test-shaped feed stager uses java.io.
  */
object ChunkStream {

  /** Batches between compaction generations. */
  val CompactEvery = 4

  /** Marker written inside a consolidated dir after its parquet job
    * finishes; `_`-prefixed so Spark's file index never reads it as data.
    * Directory existence alone is not completeness: a kill can land
    * between the overwrite-delete and the last part file. */
  private val CompactedMarker = "_GRAFT_COMPACTED"

  /** The feed directory of the stream whose scratch dir is `scratch`. */
  def feed(scratch: String): String = s"$scratch/feed"

  /** Chunk any `df` on `idCol` ranges into `nChunks` files under `feedDir`
    * with ascending modification times: a file stream with
    * maxFilesPerTrigger=1 then replays it as id-ordered micro-batches
    * (FileStreamSource admits oldest-first), one chunk per batch.
    * repartition(n, chunk) puts each chunk wholly in one task, so
    * partitionBy writes exactly one file per chunk — two files of one
    * chunk would split an id range across two batches. Deliberately
    * java.io: mtime-ordered admission needs a local dir. */
  private[graft] def stageFeedOrdered(s: SparkSession,
      df: DataFrame, idCol: String,
      nChunks: Int, feedDir: String): Unit = {
    val mm = df.agg(min(idCol), max(idCol)).head
    val lo = mm.getLong(0)
    val span = (mm.getLong(1) - lo) / nChunks + 1
    val stage = s"$feedDir.stage"
    // integer DIV, never `/`: Column./ is DOUBLE division, whose rounding
    // can misassign boundary docs between adjacent chunks once doc_id
    // spans approach 2^53 — and a doc in the wrong chunk silently breaks
    // the cross-batch doc_id ordering the first-occurrence semantics
    // rest on (r14 ADVICE)
    df.withColumn("chunk",
        expr(s"CAST(($idCol - ${lo}L) DIV ${span}L AS INT)"))
      .repartition(nChunks, col("chunk"))
      .write.mode("overwrite").partitionBy("chunk").parquet(stage)
    val feed = new java.io.File(feedDir)
    feed.mkdirs()
    val t0 = System.currentTimeMillis() - 3600000L
    for (k <- 0 until nChunks) {
      Option(new java.io.File(s"$stage/chunk=$k").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          val to = new java.io.File(feed, f"b$k%03d-$i.parquet")
          java.nio.file.Files.move(f.toPath, to.toPath)
          // the mtime IS the admission order; a silent failure here would
          // let FileStreamSource replay out of doc_id order, breaking the
          // first-occurrence invariant far from the cause (r14 ADVICE)
          require(to.setLastModified(t0 + k * 1000L),
            s"setLastModified failed staging $to")
        }
    }
  }

  /** Test seam for the mid-compaction kill proofs: called at the two
    * crash-interesting points of every kind's compaction — "premark"
    * (consolidated parquet written, marker not yet created: a crash here
    * must rebuild) and "postmark" (marker created, merged sources not yet
    * swept: a crash here must skip the rebuild and finish the sweep).
    * No-op in production. */
  private[graft] var compactionHook: (String, String) => Unit = (_, _) => ()

  /** Consolidated-dir output file sizing: one ~128 MB parquet file per
    * 128 MB of merged source bytes (a year-old stream's consolidated
    * state neither fragments into thousands of small files nor
    * concentrates into a handful of multi-GB ones), floored at 1 and
    * capped at 4096 files (≈512 GB of state per kind — past that the
    * layout question is a table format's, not a directory's). */
  private[graft] def compactionPartitions(srcBytes: Long): Int =
    math.max(1L, math.min(4096L, srcBytes / (128L << 20))).toInt

  /** The state of the stream whose scratch dir is `scratch`, resolved
    * through `spark`'s Hadoop configuration. */
  final class State(val spark: SparkSession, scratch: String) {
    private val root = s"$scratch/state"
    private val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** Write batch `bid`'s `df` as its state of `kind`. */
    def put(kind: String, bid: Long, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(f"$root/$kind/b$bid%06d")

    /** The directories a reader of `kind` consumes, in read order: the
      * newest complete consolidated dir (if any), then the per-batch dirs
      * above its watermark and below `before`. */
    def committed(kind: String, before: Long = Long.MaxValue): Seq[String] = {
      val c = consolidated(kind)
      // a consolidated dir at/past the read bound cannot be un-merged; by
      // construction (compaction watermark = bid-1, run inside batch bid)
      // it never happens — fail loudly rather than read too much state
      c.foreach { case (w, _) => require(w < before,
        s"consolidated watermark $w >= read bound $before under $root/$kind") }
      val lo = c.map(_._1).getOrElse(-1L)
      (c.toSeq ++ numbered(kind, "b").filter(t => t._1 > lo && t._1 < before))
        .map(_._2.toString)
    }

    /** All committed state of `kind` as one frame. */
    def read(kind: String): DataFrame =
      spark.read.parquet(committed(kind): _*)

    /** The state of `kind` committed before batch `bid`; `like` with no
      * rows while there is none (a parquet read of no paths has no
      * schema). */
    def prior(kind: String, bid: Long, like: DataFrame): DataFrame = {
      val dirs = committed(kind, bid)
      if (dirs.isEmpty) like.limit(0) else spark.read.parquet(dirs: _*)
    }

    /** One idempotent compaction generation at watermark `w` for each of
      * `kinds`: merge the committed dirs up to `w` into `c{w}`, mark it,
      * then sweep the per-batch dirs at/below `w` and every other `c`
      * dir (the superseded generation, or a stale markerless attempt). */
    private[graft] def compact(w: Long, kinds: Seq[String]): Unit =
      for (kind <- kinds) {
        val cPath = f"$root/$kind/c$w%06d"
        val marker = new Path(cPath, CompactedMarker)
        if (!fs.exists(marker)) {
          val srcs = committed(kind, w + 1)
          if (srcs.nonEmpty) {
            // plain union — batches partition the feed, so no dedup is
            // needed; the output file count scales with the merged source
            // BYTES (a fixed coalesce(32) would concentrate a year-old
            // stream's state into 32 ever-growing files)
            val bytes = srcs.map(p =>
              fs.getContentSummary(new Path(p)).getLength).sum
            spark.read.parquet(srcs: _*).coalesce(compactionPartitions(bytes))
              .write.mode("overwrite").parquet(cPath)
            compactionHook("premark", kind)
            require(fs.createNewFile(marker) || fs.exists(marker),
              s"compaction marker create failed: $marker")
          }
        }
        compactionHook("postmark", kind)
        (numbered(kind, "b").filter(_._1 <= w) ++
          numbered(kind, "c").filter(_._1 != w))
          .foreach(t => fs.delete(t._2, true))
      }

    /** The newest complete consolidated dir of `kind`, as (watermark,
      * path). A markerless one (killed mid-compaction) is invisible. */
    private def consolidated(kind: String): Option[(Long, Path)] =
      numbered(kind, "c")
        .filter(t => fs.exists(new Path(t._2, CompactedMarker))).lastOption

    /** The subdirs of `kind` named `tag` + a number, as (number, path) in
      * number order; empty while the kind has no directory yet. */
    private def numbered(kind: String, tag: String): Seq[(Long, Path)] = {
      val p = new Path(s"$root/$kind")
      val dirs: Seq[FileStatus] =
        if (!fs.exists(p)) Seq.empty
        else fs.listStatus(p).toSeq.filter(_.isDirectory)
      dirs.flatMap { st =>
        val n = st.getPath.getName
        if (!n.startsWith(tag)) None
        else n.stripPrefix(tag).toLongOption.map(_ -> st.getPath)
      }.sortBy(_._1)
    }
  }

  /** Start a foreachBatch stream over a staged chunk feed: one chunk file
    * per micro-batch (AvailableNow drains everything then stops), with
    * `batch` run on each and the state `kinds` compacted every
    * [[CompactEvery]] batches before it. Restartable: the same scratch
    * resumes from the file-source offset log, replaying at most the one
    * uncommitted batch. */
  private[graft] def start(s: SparkSession, feedDir: String,
      scratch: String, kinds: Seq[String])(
      batch: (State, DataFrame, Long) => Unit): StreamingQuery = {
    val schema = s.read.parquet(feedDir).schema // footer only
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$feedDir/b*.parquet")
      .writeStream
      .foreachBatch { (b: DataFrame, bid: Long) =>
        val st = new State(b.sparkSession, scratch)
        if (bid > 0 && bid % CompactEvery == 0) st.compact(bid - 1, kinds)
        batch(st, b, bid)
      }
      .option("checkpointLocation", s"$scratch/checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
