package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery,
  StreamingQueryListener}

/** Crash-recovery proof for the stateful streaming path, run in a forked
  * JVM by StreamingSpec (graceful-stop recovery is already covered there;
  * this is the HARD-crash variant the graceful tests cannot express).
  *
  * Phase `kill`: stage the sf0.001 events as 8 event-time-range-chunked
  * feed files plus a far-future per-user sentinel file
  * ([[ScaleLaws.stageEventFeed]]), start sessionize on the RocksDB state
  * store with `maxFilesPerTrigger=1` into a parquet sink + checkpoint,
  * and HALT the JVM (`Runtime.halt` — no graceful stop, no shutdown
  * hooks, no sink/state finalization) from the progress listener after
  * the third micro-batch, i.e. mid-drain and possibly mid-commit of the
  * fourth.
  *
  * Phase `resume`: start the SAME query from the SAME checkpoint in a
  * fresh JVM. The file-source log replays the uncommitted batch, RocksDB
  * state restores from the checkpointed snapshot, and the parquet sink's
  * `_spark_metadata` log admits each batch's files exactly once. Exits 0
  * iff the sink's closed-session multiset EQUALS the batch q_sessionize
  * answer on the same events — exactly-once across a hard crash.
  *
  * Phase `resumekill`: the DOUBLE-crash variant (r11 verdict item) —
  * restart from the checkpoint exactly like `resume`, but halt AGAIN
  * after two more data micro-batches, i.e. during the resume drain
  * itself, while the recovery replay of the first crash may still be
  * in flight. A subsequent `resume` phase must still converge to the
  * batch twin: kill → resumekill → resume is two hard crashes, the
  * second on a recovering query.
  */
object StreamKillMain {

  /** The bench session recipe on the RocksDB state store. A long drain
    * in one JVM leaves each micro-batch's shuffle files until the
    * ContextCleaner sees their dependency collected, and a big heap can go
    * a whole drain without a full GC (measured at ×10000: 42 GB of dead
    * shuffle filled the disk mid-drain); a 60 s periodic GC bounds that
    * at about one batch's worth. */
  private def session(threads: Int): SparkSession = {
    val s = Bench.benchSession(threads.toString, Map(
      streaming.Streams.RocksDbProvider,
      "spark.cleaner.periodicGC.interval" -> "60s"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Stage the events of `dir` as `nChunks` event-time chunks plus the
    * per-user sentinel, all admitted to `<work>/feed` at once. */
  private def stageFeed(spark: SparkSession, dir: String,
      work: String, nChunks: Int): Unit = {
    val stage = s"$work/feed_stage"
    ScaleLaws.stageEventFeed(spark, dir, stage, nChunks)
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(s"$work/feed"))
    ScaleLaws.admit(stage, s"$work/feed", 0 until nChunks, sentinel = true)
  }

  private def startQuery(spark: SparkSession, work: String) = {
    import spark.implicits._
    import graft.streaming.Streams
    Streams.sessionize(spark.readStream
        .schema("user_id BIGINT, ts_us BIGINT, event_id BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$work/feed")
        .as[Streams.Ev]).writeStream
      .format("parquet").option("path", s"$work/sessions")
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode("append").start()
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val work = args(1)
    val phase = args(2)
    // optional ×copies blow-up (ScaleLawMain's streamkill group passes
    // its copies):
    // same kill/resume machinery, corpus and chunk count scaled so the
    // halt lands mid-drain of a 10M-event (×100) / 1B-event (×10000)
    // feed instead of a 1k one. Threads scale with the tier — ×10000's
    // per-micro-batch sessionize covers ~62M events — but the ≤×1000
    // tiers keep the 8 threads their recorded walls were measured at.
    val copies = if (args.length > 3) args(3).toInt else 1
    val spark = session(threads =
      if (copies >= 10000) 24 else if (copies > 1) 8 else 4)
    val srcDir = if (copies > 1) s"$work/x$copies" else src
    val nChunks = if (copies > 1) 16 else 8

    /** Start `query` and HALT the JVM after its `batches`-th completed
      * data micro-batch. HALT, not stop: the listener thread pulls the
      * plug with the drain still in flight — halt skips shutdown hooks,
      * so neither sink nor state finalize. */
    def haltAfter(batches: Int)(query: => StreamingQuery): Unit = {
      spark.streams.addListener(new StreamingQueryListener {
        private var seen = 0
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit = {
          if (e.progress.numInputRows > 0) seen += 1
          if (seen >= batches) Runtime.getRuntime.halt(42)
        }
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })
      query.awaitTermination()
      // unreachable on the intended path: the halt exits with 42 first
      System.err.println(s"KILL| $phase drained before the halt fired")
      sys.exit(3)
    }

    if (phase == "kill") {
      if (copies > 1)
        ScaleLaws.blowUpTable(spark, src, "events", copies, s"$work/x$copies")
      stageFeed(spark, srcDir, work, nChunks)
      // ×10000 disk budget: the blown-up corpus (17 GB at 1B events) has
      // served its purpose once the feed is staged — the resume compare
      // at this tier uses the blow-up twin (below), never re-reads it,
      // and the box's effective disk cannot hold corpus + feed + RocksDB
      // + sink + the drain's shuffle at once (the first ×10000 attempt
      // died of exactly that).
      if (copies >= 10000) org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(s"$work/x$copies"))
      haltAfter(3)(startQuery(spark, work))
    }

    if (phase == "resumekill") {
      // second hard crash DURING the recovery drain: same checkpoint,
      // fresh JVM, two more data batches (batch 1 of which is the replay
      // of the batch the first halt cut mid-commit), then halt again
      haltAfter(2)(startQuery(spark, work))
    }

    // ---- corpus curation kill/resume pair --------------------------------
    // Same crash grammar as the sessionize pair, but the recovering
    // machinery is the foreachBatch curation arm: its exactly-once is
    // NOT the parquet sink's _spark_metadata — it is the per-batch-id
    // idempotent state overwrite in Dedup's corpus stream batch. The halt
    // lands after the 3rd micro-batch, i.e. possibly mid-write of batch
    // 4's state directories; the resume must overwrite those partial
    // directories and still land on the BATCH pipeline's exact counts.
    if (phase == "corpuskill") {
      operators.Dedup.stageCorpusFeed(spark, src, 6, s"$work/cfeed")
      haltAfter(3)(operators.Dedup.startCorpusStream(spark, s"$work/cfeed",
        s"$work/cscratch"))
    }
    // Mid-COMPACTION hard kills (the state-compaction generation gets the
    // same crash grammar as the per-batch writes). Both phases stage a
    // 10-chunk feed and drain until the SECOND compaction generation
    // (CompactEvery=4: bid 4 merges batches 0-3, bid 8 merges
    // 4-7 AND supersedes the first c-dir), halting INSIDE it via the
    // ChunkStream.compactionHook test seam at the two crash-interesting
    // points, on the SECOND state kind ("sh") — so at halt time "hash"
    // is fully re-compacted AND its first generation swept, "sh" is
    // mid-supersession (BOTH its generations on disk in some state), and
    // band/s4/counts still sit at generation 1: the maximally skewed
    // layout. Generation 2, not 1, because only it exercises the
    // prior-c-dir supersession path of the sweep under crash (at
    // generation 1 there IS no other c-dir to delete). corpusresume
    // afterwards must still equal the batch pipeline exactly.
    //   corpuscompactkill : halt with sh's gen-2 dir WRITTEN but UNMARKED
    //                       — the resume must see only the still-marked
    //                       gen-1 dir (markerless = invisible) and rebuild
    //                       gen 2 from it + the per-batch sources
    //   corpuscompactkill2: halt with sh's gen-2 marker CREATED but the
    //                       merged sources (gen-1 c-dir + batch dirs)
    //                       UNSWEPT — the resume must read gen 2, skip
    //                       the rebuild and finish the sweep
    if (phase == "corpuscompactkill" || phase == "corpuscompactkill2") {
      val point = if (phase == "corpuscompactkill") "premark" else "postmark"
      operators.Dedup.stageCorpusFeed(spark, src, 10, s"$work/cfeed")
      val fired = new java.util.concurrent.atomic.AtomicInteger
      operators.ChunkStream.compactionHook = (p, kind) =>
        if (p == point && kind == "sh" && fired.incrementAndGet() == 2) {
          System.err.println(s"KILL| halting mid-compaction at ($p, $kind)" +
            ", generation 2")
          Runtime.getRuntime.halt(42)
        }
      operators.Dedup.startCorpusStream(spark, s"$work/cfeed",
        s"$work/cscratch").awaitTermination()
      System.err.println("KILL| corpus stream drained without the " +
        s"mid-compaction halt at ($point, sh) firing")
      sys.exit(3)
    }
    if (phase == "corpusresumekill") {
      // second hard crash DURING the curation recovery drain (the
      // streamkill2 grammar applied to the foreachBatch arm): restart
      // from the checkpoint, let two more data micro-batches commit —
      // the first being the replay of the batch the first halt cut
      // mid-state-write — then halt again. corpusresume after this is
      // a double-crash recovery.
      haltAfter(2)(operators.Dedup.startCorpusStream(spark, s"$work/cfeed",
        s"$work/cscratch"))
    }
    // ---- ANN index-maintenance kill/resume pair --------------------------
    // The corpuskill grammar applied to the streaming IVF index
    // (Similarity.startAnnIndexStream): halt after the 3rd data
    // micro-batch — possibly mid-write of batch 4's cents/stats/dims
    // state dirs — then resume from the checkpoint in a fresh JVM. The
    // recovered report must equal the one-pass batch twin
    // (annIndexBatchReport) EXACTLY: integer partials make the report
    // independent of batch boundaries, so any lost or doubled batch
    // shows up in n_vecs/cm/sx, never rounds away.
    if (phase == "annkill") {
      operators.Similarity.stageEmbedFeed(spark, src, 6, s"$work/afeed")
      haltAfter(3)(operators.Similarity.startAnnIndexStream(spark,
        s"$work/afeed", s"$work/ascratch"))
    }
    if (phase == "annresume") {
      // same no-op guard as corpusresume: a resume with every batch
      // already committed proves nothing — fail loudly (exit 4)
      val nFeed = Option(new java.io.File(s"$work/afeed").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .count(f => f.getName.startsWith("b") &&
          f.getName.endsWith(".parquet"))
      val committed = Option(
        new java.io.File(s"$work/ascratch/checkpoint/commits").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .count(_.getName.forall(_.isDigit))
      if (committed >= nFeed) {
        System.err.println(s"KILL| annresume is a NO-OP: all $nFeed " +
          s"batches ($committed) committed before the halt — kill proof " +
          "degraded")
        spark.stop(); sys.exit(4)
      }
      val q = operators.Similarity.startAnnIndexStream(spark,
        s"$work/afeed", s"$work/ascratch")
      q.awaitTermination()
      def rows(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).toSeq
      val got = rows(operators.Similarity
        .annIndexStreamResult(spark, s"$work/ascratch"))
      val want = rows(operators.Similarity.annIndexBatchReport(spark, src))
      if (got == want) {
        println("KILL| ann index resume exactly-once: stream == batch twin")
        spark.stop(); sys.exit(0)
      } else {
        System.err.println(
          s"KILL| ann index MISMATCH after resume: got $got want $want")
        spark.stop(); sys.exit(1)
      }
    }

    if (phase == "corpusresume") {
      // The proof is only a proof if the crash left UNCOMMITTED work: the
      // halt fires from the async listener bus (or the compaction hook),
      // and on a fast drain every batch could commit before it fires —
      // the resume would then be a no-op and the exactly-once claim
      // silently untested (r14 ADVICE). Exit loudly (4) in that case.
      // The feed size varies by kill phase (6 chunks for the batch-write
      // kills, 10 for the generation-2 compaction kills), so the bound
      // is the STAGED feed's own file count.
      val nFeed = Option(new java.io.File(s"$work/cfeed").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .count(f => f.getName.startsWith("b") &&
          f.getName.endsWith(".parquet"))
      val committed = Option(
        new java.io.File(s"$work/cscratch/checkpoint/commits").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .count(_.getName.forall(_.isDigit))
      if (committed >= nFeed) {
        System.err.println(s"KILL| corpusresume is a NO-OP: all $nFeed " +
          s"batches ($committed) committed before the halt — kill proof " +
          "degraded")
        spark.stop(); sys.exit(4)
      }
      val q = operators.Dedup.startCorpusStream(spark, s"$work/cfeed",
        s"$work/cscratch")
      q.awaitTermination()
      val got = operators.Dedup.corpusStreamResult(spark, s"$work/cscratch")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
        .toSeq
      val want = operators.Dedup
        .corpusPipeline(spark, Tables(spark, src, "documents"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
        .toSeq
      if (got == want) {
        println("KILL| corpus resume exactly-once: stream == batch pipeline")
        spark.stop(); sys.exit(0)
      } else {
        System.err.println(
          s"KILL| corpus MISMATCH after resume: got $got want $want")
        spark.stop(); sys.exit(1)
      }
    }

    // ---- resume: same checkpoint, fresh JVM ------------------------------
    val sq = startQuery(spark, work)
    sq.processAllAvailable()
    sq.stop()
    val got: DataFrame = spark.read.parquet(s"$work/sessions")
      .select(col("user_id"), col("n_events"), col("start_us"),
        col("end_us"))
    // The comparison frame. At ≤×1000 it is the batch q_sessionize run on
    // the SAME blown-up corpus — the strongest form. At ×10000 that twin's
    // own window sort needs ~50 GB of shuffle+spill on top of
    // feed+state+sink (the first 1B attempt filled the disk during the
    // compare, not the drain), so the tier pivots on the structure of the
    // corpus instead: ScaleLaws.blowUpTable shifts ONLY user_id and event_id
    // per copy and session rows carry no event_id, so the batch answer at
    // ×copies IS the base answer with user_id shifted per copy — a law the
    // r14 events ×10000 batch record verified AGAINST the real 1B batch run
    // ("exact per copy"). Holding the resumed sink to this blow-up frame is
    // therefore holding it to the batch twin, at the cost of a ~95k-row base
    // run instead of a 1B-row one (the recorded ×10000 tier: 95,465 base
    // sessions → 954,650,000 per side).
    val want = (if (copies >= 10000) {
      val uOff = Tables(spark, src, "events")
        .agg(max("user_id")).head.getLong(0) + 1
      // the base frame is ~95k rows that AQE coalesces to ONE partition,
      // so without an explicit repartition the crossJoin generates all
      // ~954M blown-up rows — and the exceptAll's partial hash-agg over
      // them — in a single task (measured: 20+ CPU-minutes of spill-sort
      // in one thread while 23 idled). Spread the GENERATOR first.
      SparkEntry.queries("q_sessionize")(spark, src)
        .repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(broadcast(
          spark.range(copies).select(col("id").as("cpy"))))
        .withColumn("user_id", col("user_id") + col("cpy") * lit(uOff))
    } else SparkEntry.queries("q_sessionize")(spark, srcDir))
      .select(col("user_id"), col("n_events"), col("start_us"),
        col("end_us"))
    if (copies >= 10000) {
      // Multiset equality via a commutative digest instead of exceptAll:
      // the two exceptAll passes at ~954M rows/side exchange ~30 GB of
      // shuffle on top of feed+state+sink, which is past this box's
      // slack (the compare, not the drain, filled the disk twice at
      // ×10000). One scan per side with a scalar result,
      // order-insensitive: count, two EXACT structural sums (n_events
      // and user_id in decimal(38,0) — no hash function involved, so a
      // lost-for-duplicated row swap must also conserve both column
      // sums), plus two DIFFERENTLY-SEEDED xxhash64 sums and a
      // third-seed bit_xor — no single hash function is load-bearing
      // twice, and an accidental multiset collision needs simultaneous
      // agreement of all six aggregates. exceptAll (exact by
      // construction) remains the form of record at ≤×1000.
      def dig(df: DataFrame) = df.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("n_events").cast("decimal(38,0)")).as("en"),
        sum(col("user_id").cast("decimal(38,0)")).as("eu"),
        sum(xxhash64(col("user_id"), col("n_events"), col("start_us"),
          col("end_us")).cast("decimal(38,0)")).as("s1"),
        sum(xxhash64(lit(1069L), col("user_id"), col("n_events"),
          col("start_us"), col("end_us")).cast("decimal(38,0)")).as("s2"),
        expr("bit_xor(xxhash64(2069L, user_id, n_events, start_us, end_us))")
          .as("x1")).head
      val g = dig(got)
      val w = dig(want)
      if (g == w) {
        println(s"KILL| resume exactly-once: sink digest == blow-up twin " +
          s"digest at ×$copies ($g)")
        spark.stop(); sys.exit(0)
      } else {
        System.err.println(s"KILL| MISMATCH after resume at ×$copies: " +
          s"sink digest $g != twin digest $w")
        spark.stop(); sys.exit(1)
      }
    }
    val extra = got.exceptAll(want).count()
    val missing = want.exceptAll(got).count()
    if (extra == 0 && missing == 0) {
      println("KILL| resume exactly-once: sink == batch twin")
      spark.stop()
      sys.exit(0)
    } else {
      System.err.println(s"KILL| MISMATCH after resume: $extra unexpected " +
        s"rows (duplicated batch?), $missing missing rows (lost batch?)")
      spark.stop()
      sys.exit(1)
    }
  }
}
