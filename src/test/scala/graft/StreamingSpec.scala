package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams
import graft.streaming.Streams.{Ev, Session}

/** Streaming semantics vs their batch twins over real testdata
  * (/root/testdata/sf0.001/events.parquet, 1000 rows, 150 users).
  */
class StreamingSpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Runs `query` over the parquet files in `src` (read with `schema`)
    * with an AvailableNow trigger into the append-mode parquet sink `out`,
    * checkpointed in `ckpt`, and waits until it has drained. */
  private def drainParquet(src: java.nio.file.Path, schema: String,
      out: java.nio.file.Path, ckpt: java.nio.file.Path)(
      query: DataFrame => DataFrame): Unit =
    query(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1000000")
      .parquet(src.toString + "/*.parquet"))
      .writeStream
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** q_sessionize's batch answer as sorted
    * (user_id, n_events, start_us, end_us). */
  private def batchSessions(): Seq[(Long, Long, Long, Long)] =
    SparkEntry.queries("q_sessionize")(spark, sfDir)
      .select(col("user_id"), col("n_events"), col("start_us"),
        col("end_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(identity).toSeq

  /** Sessionizes the events, plus one far-future sentinel per user that
    * closes every open session, from a MemoryStream into the memory
    * table `name`; returns the stopped query and its closed sessions. */
  private def memorySessions(name: String)
      : (StreamingQuery, Set[(Long, Long, Long, Long)]) = {
    val s = spark
    import s.implicits._
    val evs = Tables(s, sfDir, "events")
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id")
      .as[Ev].collect().toSeq
    val maxUs = evs.map(_.ts_us).max
    val sentinels = evs.map(_.user_id).distinct
      .map(u => Ev(u, maxUs + 10 * Streams.GapUs, Long.MaxValue))
    val input = MemoryStream[Ev](s)
    input.addData(evs: _*)
    input.addData(sentinels: _*)
    val q = Streams.sessionize(input.toDS()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = s.table(name).as[Session].collect()
      .map(x => (x.user_id, x.n_events, x.start_us, x.end_us)).toSet
    (q, got)
  }

  test("streaming hourlyCounts == batch hourly aggregation") {
    val s = spark
    import s.implicits._
    val batch = Tables(s, sfDir, "events")
      .select($"ts", $"event_type", $"value")
    val input = MemoryStream[(Long, String, Double)](s)
    input.addData(batch.as[(java.sql.Timestamp, String, Double)].collect()
      .map(r => (r._1.getTime * 1000, r._2, r._3)).toSeq: _*)
    val streamDf = input.toDF()
      .select(timestamp_micros($"_1").as("ts"), $"_2".as("event_type"),
        $"_3".as("value"))
    val q = Streams.hourlyCounts(streamDf).writeStream
      .format("memory").queryName("hourly").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    // dsum is exact-decimal on both sides, so compare EXACTLY — no rounding
    val got = s.table("hourly")
      .select($"hour_ts", $"event_type", $"n", $"sum_value")
      .collect().map(_.toSeq).toSet
    val want = batch
      .groupBy(unix_timestamp(date_trunc("hour", $"ts")).as("hour_ts"),
        $"event_type")
      .agg(count(lit(1)).as("n"), operators.Arith.dsum($"value").as("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("driver smoke: SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("file-source streaming: hourlyCounts over an arriving parquet dir") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-src")
    val batch = Tables(s, sfDir, "events").select($"ts", $"event_type", $"value")
    // first file arrives before the query starts, second while it runs
    batch.filter($"event_type" === "click").write
      .parquet(dir.resolve("b1.parquet").toString)
    val stream = s.readStream
      .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString + "/*.parquet")
    val q = Streams.hourlyCounts(stream).writeStream
      .format("memory").queryName("file_hourly").outputMode("complete").start()
    try {
      q.processAllAvailable()
      batch.filter($"event_type" === "view").write
        .parquet(dir.resolve("b2.parquet").toString)
      q.processAllAvailable()
    } finally q.stop()
    val got = s.table("file_hourly")
      .groupBy($"event_type").agg(sum($"n").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = batch.filter($"event_type".isin("click", "view"))
      .groupBy($"event_type").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("dropDuplicatesWithinWatermark re-admits a key past the horizon") {
    // The bounded-state production dedup (the semantics the
    // q_stream_dedup scaladoc contrasts against): state for a key is
    // EVICTED once the watermark passes its event time + delay, so a
    // recurring key re-emits after the horizon — where plain
    // dropDuplicates holds one state row per key forever and drops all
    // recurrences. Batches: user 1 at t=0 admits; its duplicate at
    // t=10min drops (within the 1h delay); an unrelated user 99 at
    // t=4h advances the watermark to 3h, evicting user 1's state; user 1
    // at t=5h then RE-ADMITS. Plain dropDuplicates on the same feed
    // emits user 1 exactly once.
    val s = spark
    import s.implicits._
    val m = 60L * 1000000 // one minute in micros
    def run(within: Boolean, name: String): Seq[(Long, Long)] = {
      val input = MemoryStream[(Long, Long)](s)
      val df = input.toDF()
        .select(timestamp_micros($"_1").as("ts"), $"_2".as("user_id"))
        .withWatermark("ts", "1 hour")
      val dd = if (within) df.dropDuplicatesWithinWatermark("user_id")
               else df.dropDuplicates("user_id")
      val q = dd.select(unix_micros($"ts").as("ts_us"), $"user_id")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData((0L, 1L), (10 * m, 1L)) // admit + in-horizon dup
        q.processAllAvailable()
        input.addData((240 * m, 99L)) // watermark → 3h; evicts user 1
        q.processAllAvailable()
        input.addData((300 * m, 1L)) // past the horizon
        q.processAllAvailable()
      } finally q.stop()
      s.table(name).as[(Long, Long)].collect().toSeq.sorted
    }
    // WHICH of a key's in-batch duplicates is emitted is arrival-order-
    // dependent (no sort precedes the state op), so assert the semantics
    // that are contractual: exactly one batch-1 emission for user 1
    // (either ts), the eviction-driven RE-ADMISSION at t=5h under
    // within-watermark, and its absence under plain dropDuplicates
    val within = run(within = true, "dedup_wm")
    assert(within.count(_._2 == 1L) == 2 && within.contains((300 * m, 1L)),
      s"within-watermark dedup must re-admit user 1 past the horizon: $within")
    assert(within.count(r => r._2 == 1L && r._1 < 240 * m) == 1,
      s"batch-1 duplicate not deduped: $within")
    val plain = run(within = false, "dedup_plain")
    assert(plain.count(_._2 == 1L) == 1 && plain.count(_._2 == 99L) == 1,
      s"plain dedup must never re-admit: $plain")
  }

  test("append sink emits exactly the watermark-closed windows (boundary ≤)") {
    // Constructed timestamps pin the eviction predicate: max event time =
    // 02:00:00 ⇒ watermark = 01:00:00; window [00:00,01:00) has end == wm
    // and MUST emit (≤, not <); [01:00,02:00) and [02:00,03:00) stay open.
    val s = spark
    import s.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-append-src")
    val out = java.nio.file.Files.createTempDirectory("graft-append-out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-append-ckpt")
    Seq(
      ("2024-01-01 00:10:00", "click", 1.0),
      ("2024-01-01 00:50:00", "click", 2.0),
      ("2024-01-01 01:10:00", "click", 4.0), // open: end 02:00 > wm
      ("2024-01-01 02:00:00", "view", 8.0)   // max ts; its window open
    ).toDF("ts_s", "event_type", "value")
      .select(to_timestamp($"ts_s").as("ts"), $"event_type", $"value")
      .write.parquet(src.resolve("b1.parquet").toString)
    drainParquet(src, "ts TIMESTAMP, event_type STRING, value DOUBLE", out,
      ckpt)(Streams.hourlyCounts)
    val rows = s.read.parquet(out.toString)
      .select($"hour_ts", $"event_type", $"n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // only the boundary window emitted: hour 00:00 UTC epoch 1704067200
    assert(rows.toSeq == Seq((1704067200L, "click", 2L)),
      s"expected exactly the closed boundary window, got ${rows.toSeq}")
  }

  test("checkpoint recovery: restart from the same checkpoint is exactly-once") {
    // The streaming analog of the batch retry story (RetryMain): a query
    // drains a first tranche of files, is STOPPED, more files arrive while
    // it is down, and a new query restarts from the SAME checkpoint dir.
    // The recovered run must (a) skip the already-processed files, (b)
    // restore the watermark and the open-window state — windows straddling
    // the tranche boundary were partially aggregated in run 1 and must
    // emit their TOTAL counts in run 2 — and (c) append each closed window
    // exactly once across both runs. Tranches are split by TIME so tranche
    // 2 carries no late data and the final sink must equal the batch twin
    // restricted to watermark-closed windows, bit for bit.
    val s = spark
    import s.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-recov-src")
    val out = java.nio.file.Files.createTempDirectory("graft-recov-out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-recov-ckpt")
    val all = Tables(s, sfDir, "events").select($"ts", $"event_type", $"value")
    val Array(minUs, maxUs) = all
      .agg(min(unix_micros($"ts")), max(unix_micros($"ts")))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val splitUs = (minUs + maxUs) / 2
    all.filter(unix_micros($"ts") < splitUs)
      .write.parquet(src.resolve("t1.parquet").toString)

    def drain(): Unit = drainParquet(src,
      "ts TIMESTAMP, event_type STRING, value DOUBLE", out, ckpt)(
      Streams.hourlyCounts)

    drain()
    val run1 = s.read.parquet(out.toString).count()
    // tranche 2 lands while NO query is running
    all.filter(unix_micros($"ts") >= splitUs)
      .write.parquet(src.resolve("t2.parquet").toString)
    drain()

    val got = s.read.parquet(out.toString)
      .select($"hour_ts", $"event_type", $"n", $"sum_value")
      .collect().map(_.toSeq)
    // batch twin, closed-window rule: watermark = ms-floored max − 1h,
    // window closed ⇔ end ≤ watermark (same semantics the append-sink
    // boundary test pins)
    val wmMs = maxUs / 1000 - 3600L * 1000
    val want = all
      .groupBy(unix_timestamp(date_trunc("hour", $"ts")).as("hour_ts"),
        $"event_type")
      .agg(count(lit(1)).as("n"), operators.Arith.dsum($"value").as("sum_value"))
      .filter(($"hour_ts" + 3600) * 1000 <= wmMs)
      .collect().map(_.toSeq)
    assert(got.toSet == want.toSet,
      s"recovered sink diverged from batch twin: got ${got.size} rows, " +
        s"want ${want.size}")
    // exactly-once: no (window, type) appended twice across the two runs
    assert(got.size == got.map(r => (r.head, r(1))).distinct.size,
      "duplicate window rows across restart")
    // the restart genuinely continued work: run 1 emitted a proper
    // non-empty prefix, run 2 emitted the rest
    assert(run1 > 0 && run1 < got.size,
      s"restart did not split the work (run1=$run1, total=${got.size})")
  }

  test("stream-static enrich joins the broadcast dimension per event") {
    val s = spark
    import s.implicits._
    val events = Tables(s, sfDir, "events")
    val customers = Tables(s, sfDir, "customer")
    val input = MemoryStream[(Long, Long, String, Double)](s)
    input.addData(events
      .select($"event_id", $"user_id", $"event_type", $"value")
      .as[(Long, Long, String, Double)].collect().toSeq: _*)
    val streamDf = input.toDF()
      .toDF("event_id", "user_id", "event_type", "value")
    val q = Streams.enrich(streamDf, customers).writeStream
      .format("memory").queryName("enriched").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val got = s.table("enriched")
      .select($"event_id", $"segment").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    val want = events.join(customers,
      events("user_id") === customers("c_custkey"), "left")
      .select($"event_id", $"c_mktsegment").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(got == want)
    assert(got.values.exists(_ != null), "no event matched a customer")
  }

  test("stateful sessionize == batch q_sessionize (closed sessions)") {
    // the sentinels close every open session, so the streaming output
    // covers every REAL session
    val (_, got) = memorySessions("sessions")
    assert(got == batchSessions().toSet)
  }

  test("sessionize on the RocksDB state store matches the default store") {
    // At 100 TB the default HDFS-backed provider keeps every key's state
    // ON-HEAP in each executor — the documented scale path is the RocksDB
    // provider (rocksdbjni ships with Spark), which pages state to local
    // disk. Pin that the heaviest custom-state path
    // (flatMapGroupsWithState sessionize) runs on it UNCHANGED: identical
    // closed sessions vs the batch twin, with the query's own progress
    // metrics proving RocksDB really was the store (no silent fallback).
    import scala.jdk.CollectionConverters._
    Streams.withConf(spark, Streams.RocksDbProvider) {
      val (q, got) = memorySessions("sessions_rocksdb")
      val usedRocks = q.recentProgress.flatMap(_.stateOperators)
        .exists(_.customMetrics.keySet.asScala.exists(_.contains("rocksdb")))
      assert(usedRocks,
        "no rocksdb custom metrics in progress — provider did not take effect")
      assert(got == batchSessions().toSet)
    }
  }

  test("foreachBatch applies per-batch MERGE upserts to a parquet state table") {
    // The arbitrary-sink production pattern: each micro-batch applies a
    // changeset to persistent state with the SAME anti-join ∪ changes
    // dataflow as q_merge_upsert, staging through a per-batch temp dir
    // (Spark refuses to overwrite a path it is reading). Two batches
    // update overlapping keys; the final state must reflect batch order
    // (last write wins) — the incremental twin of the batch MERGE row.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-feb").toString
    val state = s"$dir/state"
    (1L to 10L).map((_, 0L)).toDF("id", "v").write.parquet(state)
    val input = MemoryStream[(Long, Long)](s)
    val apply: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (batch, batchId) => {
        val upd = batch.toDF("id", "v").dropDuplicates("id")
        val next = s.read.parquet(state)
          .join(upd.select("id"), Seq("id"), "left_anti")
          .unionByName(upd)
        val tmp = s"$dir/tmp_$batchId"
        next.write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp).write.mode("overwrite").parquet(state)
      }
    val q = input.toDS().toDF("id", "v").writeStream
      .foreachBatch(apply)
      .start()
    try {
      input.addData((1L, 100L), (11L, 5L))
      q.processAllAvailable()
      input.addData((1L, 200L), (12L, 7L))
      q.processAllAvailable()
    } finally q.stop()
    val got = s.read.parquet(state).as[(Long, Long)].collect().toMap
    val want = (2L to 10L).map(_ -> 0L).toMap ++
      Map(1L -> 200L, 11L -> 5L, 12L -> 7L)
    assert(got == want, s"state diverged: $got")
  }

  test("sessionize checkpoint recovery: custom state survives a restart") {
    // The flatMapGroupsWithState analog of the windowed-agg recovery test:
    // run 1 drains the EARLY half of the events, leaving every user's
    // open session in the state store; the query stops; the late half
    // (plus per-user far-future sentinels that close all real sessions)
    // arrives while it is down; run 2 restarts from the SAME checkpoint.
    // Sessions straddling the tranche boundary were built in run 1's
    // state and must finish with run 2's events — so the final sink
    // equals the batch q_sessionize sessions exactly once each (sorted
    // MULTISET compare: a re-emitted session would show as a duplicate).
    val s = spark
    import s.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-sess-src")
    val out = java.nio.file.Files.createTempDirectory("graft-sess-out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sess-ckpt")
    val all = Tables(s, sfDir, "events")
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id")
    val Array(minUs, maxUs) = all.agg(min($"ts_us"), max($"ts_us"))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val splitUs = (minUs + maxUs) / 2
    all.filter($"ts_us" < splitUs)
      .write.parquet(src.resolve("t1.parquet").toString)

    def drain(): Unit = drainParquet(src,
      "user_id LONG, ts_us LONG, event_id LONG", out, ckpt)(
      df => Streams.sessionize(df.as[Ev]).toDF())

    drain()
    // tranche 2 + sentinels land while NO query is running
    all.filter($"ts_us" >= splitUs)
      .write.parquet(src.resolve("t2.parquet").toString)
    all.select($"user_id").distinct()
      .select($"user_id", lit(maxUs + 10 * Streams.GapUs).as("ts_us"),
        (lit(2000000000L) + $"user_id").as("event_id"))
      .write.parquet(src.resolve("t3.parquet").toString)
    drain()

    val got = s.read.parquet(out.toString).as[Session].collect()
      .map(x => (x.user_id, x.n_events, x.start_us, x.end_us))
      .sortBy(identity).toSeq
    val want = batchSessions()
    assert(got == want,
      s"recovered session set diverges: got ${got.size} sessions, " +
        s"want ${want.size}")
  }

  test("sessionize emits idle sessions via event-time timeout (bounded state)") {
    val s = spark
    import s.implicits._
    // user 1: two events 5 min apart (one session); user 2: one event.
    // Then a single far-future event for user 99 advances the watermark
    // past (end + gap) for users 1 and 2 — their open sessions must be
    // EMITTED BY TIMEOUT and their state reclaimed, with no further events.
    val m = 60L * 1000000
    val input = MemoryStream[Ev](s)
    // start at 10m, not 0: a row AT the initial watermark would be dropped
    input.addData(Ev(1, 10 * m, 10), Ev(1, 15 * m, 11), Ev(2, 12 * m, 20))
    val q = Streams.sessionize(input.toDS()).writeStream
      .format("memory").queryName("idle_sessions").outputMode("append").start()
    try {
      q.processAllAvailable()
      input.addData(Ev(99, 2000 * m, 990))
      q.processAllAvailable()
    } finally q.stop()
    val got = s.table("idle_sessions").as[Session].collect()
      .map(x => (x.user_id, x.n_events, x.start_us, x.end_us)).toSet
    assert(got == Set((1L, 2L, 10 * m, 15 * m), (2L, 1L, 12 * m, 12 * m)),
      s"expected both idle sessions closed by timeout, got $got")
  }

  test("sessionize survives a hard JVM kill mid-drain (exactly-once resume)") {
    // The crash-grade variant of the graceful checkpoint-recovery tests:
    // StreamKillMain phase `kill` HALTS its JVM (no shutdown hooks, no
    // sink/state finalization) after the third micro-batch of a chunked
    // file-source drain on RocksDB state; phase `resume` restarts the
    // same query from the same checkpoint in a fresh JVM and exits 0 iff
    // the parquet sink equals the batch twin — exactly-once across a
    // crash the graceful tests cannot express.
    val work = java.nio.file.Files
      .createTempDirectory("graft-streamkill").toString
    try {
      val killed = ForkedJvm.run("graft.StreamKillMain", "2g",
        Seq(sfDir, work, "kill"))
      assert(killed == 42, s"kill phase exited $killed, not the halt's 42")
      val resumed = ForkedJvm.run("graft.StreamKillMain", "2g",
        Seq(sfDir, work, "resume"))
      assert(resumed == 0, s"resume phase exited $resumed — sink != batch twin")
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(work))
  }

  test("sessionize survives a SECOND hard kill during the resume drain") {
    // Double-crash: halt mid-drain, restart from the checkpoint and halt
    // AGAIN two data batches into the recovery (while the replay of the
    // batch the first halt cut may be in flight), then a final resume.
    // Exactly-once must hold across BOTH crashes — the second one
    // exercises recovery-of-a-recovery: the file-source log, RocksDB
    // snapshot and sink _spark_metadata all re-enter from a checkpoint
    // that was itself written by a recovering query.
    val work = java.nio.file.Files
      .createTempDirectory("graft-streamkill2").toString
    try {
      val killed = ForkedJvm.run("graft.StreamKillMain", "2g",
        Seq(sfDir, work, "kill"))
      assert(killed == 42, s"kill phase exited $killed, not the halt's 42")
      val killed2 = ForkedJvm.run("graft.StreamKillMain", "2g",
        Seq(sfDir, work, "resumekill"))
      assert(killed2 == 42,
        s"resumekill phase exited $killed2, not the halt's 42")
      val resumed = ForkedJvm.run("graft.StreamKillMain", "2g",
        Seq(sfDir, work, "resume"))
      assert(resumed == 0,
        s"resume after double crash exited $resumed — sink != batch twin")
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(work))
  }

  test("corpus curation stream resumes across a clean restart " +
      "(incremental state accumulates to the batch pipeline's answer)") {
    // First drain sees only the first three chunk files, stops (AvailableNow
    // exhausts what exists); the held-back chunks then appear and a second
    // query on the SAME checkpoint+state drains them. The assembled report
    // must equal the batch pipeline exactly — restart may not lose state,
    // re-curate already-admitted docs, or change any dedup verdict.
    val s = spark
    val Dedup = graft.operators.Dedup
    val work = java.nio.file.Files
      .createTempDirectory("graft-corpus-restart").toString
    try {
      Dedup.stageCorpusFeed(s, sfDir, 6, s"$work/feed")
      val later = new java.io.File(s"$work/later"); later.mkdirs()
      val files = new java.io.File(s"$work/feed").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      assert(files.length >= 5, s"expected >=5 chunk files, got ${files.length}")
      files.drop(3).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(later, f.getName).toPath)
      }
      Dedup.startCorpusStream(s, s"$work/feed", s"$work/scratch")
        .awaitTermination()
      later.listFiles().foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(s"$work/feed", f.getName).toPath)
      }
      Dedup.startCorpusStream(s, s"$work/feed", s"$work/scratch")
        .awaitTermination()
      val got = Dedup.corpusStreamResult(s, s"$work/scratch")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      val want = Dedup.corpusPipeline(s, Tables(s, sfDir, "documents"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      assert(got == want, s"stream-restart counts $got != batch $want")
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(work))
  }

  test("corpus stream state layer is Hadoop-FS clean: an explicit " +
      "file:-scheme state root drains, compacts and reports exactly " +
      "(no java.io.File fallback — a java.io listing of a URI is null)") {
    // The production state root is a cluster URI (hdfs://, s3a://); any
    // surviving java.io.File list/exists/delete in the state layer would
    // see a `file:/...` root as a relative path named "file:", list
    // nothing, and a prior read would silently dedup against NOTHING — the
    // report would diverge from the batch pipeline. Running the whole
    // stream (compaction included: 6 batches, CompactEvery=4 fires at
    // bid 4) through an explicit URI root pins the FS-API port end to
    // end (r16 verdict item 1).
    val s = spark
    val Dedup = graft.operators.Dedup
    val work = java.nio.file.Files
      .createTempDirectory("graft-corpus-fsuri").toString
    try {
      Dedup.stageCorpusFeed(s, sfDir, 6, s"$work/feed")
      val scratch = s"file:$work/scratch"
      Dedup.startCorpusStream(s, s"$work/feed", scratch)
        .awaitTermination()
      val got = Dedup.corpusStreamResult(s, scratch)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      val want = Dedup.corpusPipeline(s, Tables(s, sfDir, "documents"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      assert(got == want, s"file:-root stream counts $got != batch $want")
      // compaction landed through the URI too: exactly one marked c-dir
      // per kind, sized by the byte-derived formula (tiny state → 1 part
      // file, not the 32 a fixed coalesce would leave — r16 verdict
      // item 4), all via the FS API
      val fs = new org.apache.hadoop.fs.Path(scratch).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      for (kind <- Seq("hash", "sh", "band", "s4", "counts")) {
        val root = new org.apache.hadoop.fs.Path(s"$scratch/state/$kind")
        val cDirs = fs.listStatus(root).filter(st =>
          st.isDirectory && st.getPath.getName.startsWith("c"))
        assert(cDirs.length == 1,
          s"$kind: expected 1 consolidated dir, got ${cDirs.length}")
        assert(fs.exists(new org.apache.hadoop.fs.Path(
          cDirs.head.getPath, "_GRAFT_COMPACTED")),
          s"$kind: consolidated dir missing its marker")
        val parts = fs.listStatus(cDirs.head.getPath).count(
          _.getPath.getName.endsWith(".parquet"))
        assert(parts == 1, s"$kind: tiny consolidated state wrote $parts " +
          "part files — size-based partitioning not in effect")
        val bDirs = fs.listStatus(root).filter(st =>
          st.isDirectory && st.getPath.getName.startsWith("b"))
        assert(bDirs.forall(_.getPath.getName.stripPrefix("b").toLong > 3),
          s"$kind: merged per-batch dirs survived the sweep")
      }
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(work))
  }

  test("compaction output partitioning scales with merged state bytes, " +
      "floored and capped") {
    val f = graft.operators.ChunkStream.compactionPartitions _
    assert(f(0L) == 1, "empty state must still write one file")
    assert(f(127L << 20) == 1)
    assert(f(128L << 20) == 1)
    assert(f(300L << 20) == 2, "300 MB of state → 2 ~128 MB files")
    assert(f(10L << 30) == 80, "10 GB of state → 80 files")
    assert(f(1L << 40) == 4096, "1 TB of state hits the 4096-file cap")
    assert(f(Long.MaxValue) == 4096, "file count must cap, not overflow")
  }

  test("corpus curation stream survives TWO hard JVM kills — mid-drain and " +
      "mid-recovery (exactly-once via idempotent per-batch state overwrite)") {
    // The foreachBatch arm's exactly-once is its OWN contract (per-batch-id
    // overwrite), not the parquet sink's _spark_metadata — so it gets its
    // own crash proof at the sessionizer's proof depth (the streamkill2
    // grammar): halt after the 3rd micro-batch (possibly mid-write of
    // batch 4's state dirs), restart and halt AGAIN two data batches into
    // the recovery drain (the first of which replays the cut batch), then
    // resume in a third JVM and require the final report to equal the
    // batch pipeline exactly. corpusresume itself guards against the
    // silent no-op degradation (all batches committed before a late async
    // halt) by failing loudly (exit 4) when the commit log is full.
    val work = java.nio.file.Files
      .createTempDirectory("graft-corpuskill").toString
    try {
      val killed = ForkedJvm.run("graft.StreamKillMain", "2g",
        Seq(sfDir, work, "corpuskill"))
      assert(killed == 42, s"corpuskill phase exited $killed, not 42")
      val killed2 = ForkedJvm.run("graft.StreamKillMain", "2g",
        Seq(sfDir, work, "corpusresumekill"))
      assert(killed2 == 42,
        s"corpusresumekill phase exited $killed2, not 42")
      val resumed = ForkedJvm.run("graft.StreamKillMain", "2g",
        Seq(sfDir, work, "corpusresume"))
      assert(resumed == 0,
        s"corpusresume exited $resumed — stream != batch pipeline " +
          "(4 = kill proof degraded to a no-op resume)")
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(work))
  }

  test("ANN index stream survives a hard kill mid-drain " +
      "(recovered report == the one-pass batch twin)") {
    // the corpuskill grammar applied to the streaming IVF index: halt
    // after the 3rd data micro-batch (possibly mid-write of batch 4's
    // cents/stats/dims dirs), resume from the checkpoint in a fresh JVM,
    // and require the assembled occupancy/drift report to equal
    // annIndexBatchReport exactly — integer partials make any lost or
    // doubled batch visible, never rounded away. annresume guards the
    // no-op degradation (all batches committed before the async halt)
    // by failing loudly (exit 4).
    val work = java.nio.file.Files
      .createTempDirectory("graft-annkill").toString
    try {
      val killed = ForkedJvm.run("graft.StreamKillMain", "2g",
        Seq(sfDir, work, "annkill"))
      assert(killed == 42, s"annkill phase exited $killed, not the halt's 42")
      val resumed = ForkedJvm.run("graft.StreamKillMain", "2g",
        Seq(sfDir, work, "annresume"))
      assert(resumed == 0,
        s"annresume exited $resumed — stream != batch twin " +
          "(4 = kill proof degraded to a no-op resume)")
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(work))
  }

  test("ANN drift trajectory's last point per bucket equals the final " +
      "index report (one state, two consistent artifacts)") {
    // both reports assemble from the SAME persisted integer partials;
    // each matches its own DuckDB oracle, and this pins their mutual
    // consistency: a bucket's last cumulative trajectory point IS the
    // final report's occupancy and drift for that bucket.
    val s = spark
    val Sim = operators.Similarity
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-anndrift").toString
    try {
      Sim.stageEmbedFeed(s, sfDir, 6, s"$scratch/feed")
      Sim.startAnnIndexStream(s, s"$scratch/feed", scratch)
        .awaitTermination()
      val lastPerBucket = Sim.annIndexDriftResult(s, scratch).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
          r.getDouble(4)))
        .groupBy(_._2).map { case (b, rs) =>
          val last = rs.maxBy(_._1)
          (b, last._3, last._4)
        }.toList.sortBy(_._1)
      val report = Sim.annIndexStreamResult(s, scratch).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
        .toList.sortBy(_._1)
      assert(lastPerBucket == report,
        s"trajectory tail $lastPerBucket != final report $report")
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(scratch))
  }

  test("corpus state compaction survives hard kills at BOTH mid-compaction " +
      "points of the SECOND generation (markerless rebuild under " +
      "supersession; marked skip + prior-generation sweep finish)") {
    // The compaction generation gets the same crash grammar as the
    // per-batch state writes. Each phase stages a 10-chunk feed and halts
    // INSIDE the second compaction (batch 8's — the one that must
    // supersede batch 4's consolidated dir, the sweep path generation 1
    // never exercises) via the ChunkStream.compactionHook seam, on the
    // second state kind — so "hash" is fully re-compacted with its first
    // generation swept, "sh" is mid-supersession with BOTH generations on
    // disk:
    //   corpuscompactkill : gen-2 dir written, marker NOT created — the
    //     resume must treat the markerless dir as invisible, read the
    //     still-marked gen-1 dir, and rebuild gen 2 from it + the
    //     per-batch sources
    //   corpuscompactkill2: gen-2 marker created, merged sources (gen-1
    //     c-dir + batch dirs) NOT swept — the resume must read gen 2,
    //     skip the rebuild and finish the sweep
    // In both cases corpusresume must land on the batch pipeline exactly.
    for (phase <- Seq("corpuscompactkill", "corpuscompactkill2")) {
      val work = java.nio.file.Files
        .createTempDirectory(s"graft-$phase").toString
      try {
        val killed = ForkedJvm.run("graft.StreamKillMain", "2g",
          Seq(sfDir, work, phase))
        assert(killed == 42, s"$phase exited $killed, not the halt's 42 " +
          "(3 = drained without the mid-compaction halt firing)")
        val resumed = ForkedJvm.run("graft.StreamKillMain", "2g",
          Seq(sfDir, work, "corpusresume"))
        assert(resumed == 0,
          s"corpusresume after $phase exited $resumed — stream != batch " +
            "pipeline (compaction crash broke exactly-once)")
      } finally org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(work))
    }
  }

  test("stageCorpusFeed's doc_id-ordered admission is LOAD-BEARING: " +
      "out-of-order chunk mtimes change the survivor set") {
    // The incremental == batch equivalence rests on the feed replaying in
    // doc_id order (first occurrence wins). This spec proves the contract
    // by BREAKING it: a planted cross-chunk near-dup pair (A id 0 chunk 0,
    // B id 100 chunk 1) curates to survivor {A} when admitted in order —
    // equal to the batch pipeline's stage-4 frame — but with the chunk
    // mtimes REVERSED the stream admits B first and keeps {B}. Note the
    // stage COUNTS coincide under that swap (1 survivor either way),
    // which is exactly why this spec checks survivor IDENTITY and why a
    // silently mis-ordered feed would corrupt corpora while the count
    // report still looked right.
    val s = spark
    import s.implicits._
    val Dedup = graft.operators.Dedup
    val work = java.nio.file.Files
      .createTempDirectory("graft-feedorder").toString
    try {
      // near-dup pair: one stopword so quality's stop_ratio gate passes,
      // ≥12 tokens for minlen, one changed token for jaccard ∈ [0.5, 1)
      val a = "the alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
      val b = a.replace("sigma", "sigmaX")
      Seq((0L, a, "en", "src0", a.length.toLong),
          (100L, b, "en", "src0", b.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$work/documents.parquet")
      val batchSurvivors = Dedup
        .corpusStageFrames(s, Tables(s, work, "documents"))
        .find(_._2 == "near_dedup").get._3
        .select("doc_id").as[Long].collect().toSet
      assert(batchSurvivors == Set(0L),
        s"planted frame broken: batch survivors $batchSurvivors != {0}")
      def runStream(scratch: String, reverse: Boolean): Set[Long] = {
        Dedup.stageCorpusFeed(s, work, 2, s"$scratch/feed")
        if (reverse) {
          // swap the admission order: chunk 1's file older than chunk 0's
          val files = new java.io.File(s"$scratch/feed").listFiles()
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          val t0 = System.currentTimeMillis() - 7200000L
          files.zipWithIndex.foreach { case (f, i) =>
            require(f.setLastModified(t0 + (files.length - i) * 1000L))
          }
        }
        val q = Dedup.startCorpusStream(s, s"$scratch/feed", scratch)
        q.awaitTermination()
        s.read.parquet(s"$scratch/state/s4/*")
          .select("doc_id").as[Long].collect().toSet
      }
      val inOrder = runStream(s"$work/ok", reverse = false)
      assert(inOrder == batchSurvivors,
        s"in-order stream survivors $inOrder != batch $batchSurvivors")
      val reversed = runStream(s"$work/rev", reverse = true)
      assert(reversed == Set(100L),
        s"reversed-mtime stream kept $reversed — expected the LATER doc " +
          "{100} to usurp first-occurrence, proving order is load-bearing")
      assert(reversed != batchSurvivors,
        "reversed admission matched the batch oracle — ordering contract " +
          "is NOT load-bearing?!")
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(work))
  }

  /** The q_stream_funnel state machine on a planted frame, fed
    * deliberately OUT of time order within the batch (the group sorts by
    * (ts_us, event_id) first) — parameterized over the arm so the
    * flatMapGroupsWithState original and its transformWithState port are
    * held to the same semantics:
    *  user 1: clean signup→click→purchase        → (T, T, T)
    *  user 2: a click BEFORE any signup is ignored; a click AT exactly
    *          t1 is excluded (strict >); a purchase before t2 exists is
    *          ignored; then a real click — and a purchase AT exactly t2
    *          is excluded again                    → (T, T, F)
    *  user 3: activity but never a signup          → (F, F, F)
    * A far-future sentinel advances the watermark; every planted user
    * must flush via event-time timeout. The sentinel flushes too: its
    * timeout was armed just above the then-current watermark during its
    * own batch, and the trailing no-data batch's advanced watermark
    * fires it — every user with state emits exactly once per drain. */
  private def driveSnapshotFunnel(tag: String,
      arm: org.apache.spark.sql.Dataset[Streams.FEv] =>
        org.apache.spark.sql.Dataset[Streams.FunnelUser])
      : Set[(Long, Boolean, Boolean, Boolean)] = {
    val s = spark
    import s.implicits._
    val m = 60L * 1000000
    val sink = s"funnel_snap_$tag"
    val input = MemoryStream[Streams.FEv](s)
    input.addData(
      Streams.FEv(1, 30 * m, 13, "purchase"), Streams.FEv(1, 10 * m, 11, "signup"),
      Streams.FEv(1, 20 * m, 12, "click"),
      Streams.FEv(2, 15 * m, 25, "click"), Streams.FEv(2, 5 * m, 21, "click"),
      Streams.FEv(2, 10 * m, 22, "signup"), Streams.FEv(2, 10 * m, 23, "click"),
      Streams.FEv(2, 12 * m, 24, "purchase"), Streams.FEv(2, 15 * m, 26, "purchase"),
      Streams.FEv(3, 11 * m, 31, "click"), Streams.FEv(3, 13 * m, 32, "purchase"))
    val q = arm(input.toDS()).writeStream
      .format("memory").queryName(sink).outputMode("append").start()
    try {
      q.processAllAvailable()
      input.addData(Streams.FEv(99, 5000 * m, 99, "signup"))
      q.processAllAvailable()
    } finally q.stop()
    s.table(sink).as[Streams.FunnelUser].collect()
      .map(x => (x.user_id, x.s1, x.s2, x.s3)).toSet
  }

  test("funnel snapshot: strict ordering, ties excluded, flushed by timeout") {
    val got = driveSnapshotFunnel("fmgws", Streams.funnelSnapshot)
    assert(got == Set((1L, true, true, true), (2L, true, true, false),
      (3L, false, false, false), (99L, true, false, false)),
      s"funnel snapshot mismatch: $got")
  }

  /** Millisecond-boundary feed for the snapshot-funnel timer shift:
    * fmgws fires a timeout iff ts < watermark, tws expires a timer iff
    * ts ≤ watermark, so the tws arm registers at fmgwsTs + 1. The feed
    * arms user 1's timer under watermark W (timers land at W+1 / W+2),
    * then advances the watermark to EXACTLY W+1 — a correct pair stays
    * silent on both arms (101 < 101 and 102 ≤ 101 both fail); a tws arm
    * without the shift would flush one batch early here. The next batch
    * advances to W+2, where both arms must fire. Returns the emission
    * set after the W+1 batch and after the W+2 batch. */
  private def driveSnapshotBoundary(tag: String,
      arm: org.apache.spark.sql.Dataset[Streams.FEv] =>
        org.apache.spark.sql.Dataset[Streams.FunnelUser])
      : (Set[Long], Set[Long]) = {
    val s = spark
    import s.implicits._
    val ms = 1000L                 // one millisecond, in micros
    val delay = 1800000L * ms      // the 30-minute watermark delay
    val sink = s"funnel_bnd_$tag"
    val input = MemoryStream[Streams.FEv](s)
    def users(): Set[Long] =
      s.table(sink).as[Streams.FunnelUser].collect().map(_.user_id).toSet
    // batch 1: sentinel 90 pushes the watermark to exactly W = 100 ms
    input.addData(Streams.FEv(90, delay + 100 * ms, 901, "signup"))
    val q = arm(input.toDS()).writeStream
      .format("memory").queryName(sink).outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: user 1 arrives under watermark 100 → timer at 101/102;
      // the watermark does not advance (150 ms − 30 min ≪ 100 ms)
      input.addData(Streams.FEv(1, 150 * ms, 11, "signup"))
      q.processAllAvailable()
      // batch 3: watermark → exactly 101 — the boundary. Neither arm may
      // flush user 1 (or sentinel 91, whose timer also lands at 101/102).
      input.addData(Streams.FEv(91, delay + 101 * ms, 911, "signup"))
      q.processAllAvailable()
      val atBoundary = users()
      // batch 4: watermark → 102 — both arms must flush user 1 and 91.
      // Sentinel 92's own timer (103/104) stays armed: not flushed.
      input.addData(Streams.FEv(92, delay + 102 * ms, 921, "signup"))
      q.processAllAvailable()
      (atBoundary, users())
    } finally q.stop()
  }

  test("funnel snapshot tws arm == fmgws arm (semantics + timer boundary)") {
    // transformWithState requires RocksDB; run BOTH arms on it so the
    // store is held constant, and require identical emissions — on the
    // full semantics feed AND at the exact ms timer boundary (the test
    // fails if the +1 shift in the transformWithState adapter is removed)
    Streams.withConf(spark, Streams.RocksDbProvider) {
      val a = driveSnapshotFunnel("fmgws_rocks", Streams.funnelSnapshot)
      val b = driveSnapshotFunnel("tws_rocks", Streams.funnelSnapshotTws)
      assert(a == b, s"semantics arms diverged: fmgws=$a tws=$b")
      val (af, bf) = (driveSnapshotBoundary("fmgws", Streams.funnelSnapshot),
        driveSnapshotBoundary("tws", Streams.funnelSnapshotTws))
      assert(af._1 == Set(90L) && af._2 == Set(90L, 91L, 1L),
        s"fmgws boundary emissions wrong: $af")
      assert(af == bf, s"boundary arms diverged: fmgws=$af tws=$bf")
    }
  }

  /** The 4-batch retained-funnel contract, parameterized over the arm so
    * the flatMapGroupsWithState original and its transformWithState port
    * are held to emission-for-emission identical behavior: idle flush
    * retains state, a post-idle return completes the funnel, delta
    * emission keeps clean users silent, and the TTL reclaims everyone
    * but the sentinel. Returns the final emission sequence. */
  private def driveRetainedFunnel(tag: String,
      arm: (org.apache.spark.sql.Dataset[Streams.FEv], Long) =>
        org.apache.spark.sql.Dataset[Streams.FunnelUser])
      : Seq[(Long, Boolean, Boolean, Boolean)] = {
    val s = spark
    import s.implicits._
    val m = 60L * 1000000 // one minute, in micros
    val ttl = 200 * m
    val sink = s"funnel_ret_$tag"
    val input = MemoryStream[Streams.FEv](s)
    // batch 1: user 1 = signup→click, user 2 = signup only
    input.addData(
      Streams.FEv(1, 10 * m, 11, "signup"), Streams.FEv(1, 20 * m, 12, "click"),
      Streams.FEv(2, 15 * m, 21, "signup"))
    val q = arm(input.toDS(), ttl).writeStream
      .format("memory").queryName(sink).outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: user 3 advances the watermark to 70m → users 1/2 flush
      // their first snapshots and are RETAINED (200m TTL not reached)
      input.addData(Streams.FEv(3, 100 * m, 31, "signup"))
      q.processAllAvailable()
      val afterFlush = s.table(sink).as[Streams.FunnelUser]
        .collect().map(x => (x.user_id, x.s1, x.s2, x.s3)).toSeq
      assert(afterFlush.sorted == Seq((1L, true, true, false),
        (2L, true, false, false), (3L, true, false, false)),
        s"[$tag] first-flush snapshots wrong: $afterFlush")
      // batch 3: user 1 returns AFTER the idle flush and purchases at
      // 150m — retained t1/t2 make it stage 3 (the snapshot arm would
      // restart at stage 0 and ignore the purchase). Watermark → 120m:
      // user 1 re-emits (dirty), users 2/3 are clean → silent.
      input.addData(Streams.FEv(1, 150 * m, 13, "purchase"))
      q.processAllAvailable()
      val afterReturn = s.table(sink).as[Streams.FunnelUser]
        .collect().map(x => (x.user_id, x.s1, x.s2, x.s3)).toSeq
      assert(afterReturn.sorted == Seq((1L, true, true, false),
        (1L, true, true, true), (2L, true, false, false),
        (3L, true, false, false)),
        s"[$tag] post-return emissions wrong: $afterReturn")
      // batch 4: watermark → 370m, past every last-activity + 200m TTL
      // (user 1: 150+200=350, user 2: 215, user 3: 300) → all reclaimed,
      // silently (clean). The sentinel flushes its own first snapshot.
      input.addData(Streams.FEv(9, 400 * m, 91, "signup"))
      q.processAllAvailable()
      val fin = s.table(sink).as[Streams.FunnelUser]
        .collect().map(x => (x.user_id, x.s1, x.s2, x.s3)).toSeq
      assert(fin.sorted == afterReturn.sorted :+ ((9L, true, false, false)),
        s"[$tag] TTL reclaim emitted spurious rows: $fin")
      val liveState = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators(0).numRowsTotal
      assert(liveState == 1,
        s"[$tag] expected only the sentinel user live after TTL, got $liveState")
      fin.sorted
    } finally q.stop()
  }

  test("retained funnel: survives idle periods, delta-emits, TTL-reclaims") {
    driveRetainedFunnel("fmgws", Streams.funnelRetained)
  }

  test("retained funnel tws arm == fmgws arm on the planted 4-batch feed") {
    // transformWithState requires RocksDB; run BOTH arms on it so the
    // store is held constant, and require identical emission sequences
    Streams.withConf(spark, Streams.RocksDbProvider) {
      val a = driveRetainedFunnel("fmgws_rocks", Streams.funnelRetained)
      val b = driveRetainedFunnel("tws_rocks", Streams.funnelRetainedTws)
      assert(a == b, s"arms diverged: fmgws=$a tws=$b")
    }
  }


  test("sessionize: a within-watermark late event cannot regress a session") {
    // the watermark bounds lateness to 30 min — it does NOT prevent a
    // within-horizon late event from arriving after the session advanced.
    // A naive end-overwrite merge would regress the session end and then
    // mis-split on the next gap test; the min/max merge must not.
    val s = spark
    import s.implicits._
    val m = 60L * 1000000
    val input = MemoryStream[Ev](s)
    input.addData(Ev(1, 10 * m, 1), Ev(1, 39 * m, 2)) // session 10m..39m
    val q = Streams.sessionize(input.toDS()).writeStream
      .format("memory").queryName("late_regress").outputMode("append").start()
    try {
      q.processAllAvailable()
      // LATE event at 15m: above the watermark (39m − 30m = 9m) so it is
      // admitted, and it must extend nothing (end stays 39m)
      input.addData(Ev(1, 15 * m, 3))
      q.processAllAvailable()
      // 60m: gap from the TRUE end (39m) is 21m ≤ 30m → same session; a
      // regressed end (15m) would make it 45m and wrongly split
      input.addData(Ev(1, 60 * m, 4))
      q.processAllAvailable()
      input.addData(Ev(99, 5000 * m, 99)) // advance watermark → flush
      q.processAllAvailable()
    } finally q.stop()
    val got = s.table("late_regress").as[Session].collect()
      .filter(_.user_id == 1L)
      .map(x => (x.n_events, x.start_us, x.end_us)).toSet
    assert(got == Set((4L, 10 * m, 60 * m)),
      s"late event regressed/split the session: $got")
  }

  test("stream-stream join (clicks x purchases) matches its batch twin") {
    val s = spark
    import s.implicits._
    def side(kind: String) = Tables(s, sfDir, "events")
      .filter($"event_type" === kind)
      .select($"user_id", $"ts", $"event_id")
    def feed(kind: String) = {
      val input = MemoryStream[(Long, Long, Long)](s)
      input.addData(side(kind)
        .select($"user_id", unix_micros($"ts").as("us"), $"event_id")
        .as[(Long, Long, Long)].collect().toSeq: _*)
      (input, input.toDF().select($"_1".as("user_id"),
        timestamp_micros($"_2").as("ts"), $"_3".as("event_id")))
    }
    val (_, clicks) = feed("click")
    val (_, purchases) = feed("purchase")
    val q = Streams.clickToPurchase(clicks, purchases).writeStream
      .format("memory").queryName("c2p").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = s.table("c2p")
      .select($"click_id", $"purchase_id").as[(Long, Long)].collect().toSet
    val want = Streams.clickToPurchase(side("click"), side("purchase"))
      .select($"click_id", $"purchase_id").as[(Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("q_stream_hourly (registered file-source stream) matches its batch twin") {
    val s = spark
    import s.implicits._
    val got = SparkEntry.queries("q_stream_hourly")(s, sfDir)
      .collect().map(_.toSeq).toSet
    val want = Tables(s, sfDir, "events")
      .groupBy(unix_timestamp(date_trunc("hour", $"ts")).as("hour_ts"),
        $"event_type")
      .agg(count(lit(1)).as("n"), operators.Arith.dsum($"value").as("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("sessionizeTws == sessionize on one planted multi-batch feed " +
      "(timeout boundary included)") {
    // The dual-arm contract: SessionMachine on the
    // flatMapGroupsWithState adapter and on the Spark 4 transformWithState
    // adapter, driven over the SAME five planted micro-batches, must emit
    // identical sessions. The feed exercises every cross-batch path:
    //  b1  u1 {10m,39m} open; u2 later; boundary users planted in b4
    //  b2  u1 15m LATE (above the 9m watermark -> admitted; min/max merge)
    //      u2 20m
    //  b3  u1 60m (21m gap -> same session [10,60] n=4)
    //      u2 55m (35m gap -> closes [20,20] by GAP, opens [55,55])
    //  b4  u3 240m, u4 239m -> watermark 210m; the no-data batch fires
    //      u1/u2's timers (90m/85m < 210m) -> MID-FEED timeout emission
    //  b5  sentinel u99 300m -> final watermark 270m. u4's timer sits at
    //      269m < 270m -> flushes; u3's at EXACTLY 270m -> must NOT fire:
    //      fmgws times out iff ts < watermark (strict), and the tws arm
    //      registers at fmgwsTs+1 precisely so its ts <= watermark expiry
    //      rule lands on the same strict boundary. A tws arm without the
    //      +1 emits u3 here and fails this assertion.
    val s = spark
    import s.implicits._
    val m = 60L * 1000000
    // RocksDB: a transformWithState requirement; the fmgws arm runs on it
    // too so the comparison holds store constant
    Streams.withConf(s, Streams.RocksDbProvider) {
      def drive(tag: String,
          arm: org.apache.spark.sql.Dataset[Ev] =>
            org.apache.spark.sql.Dataset[Session]): Seq[(Long, Long, Long, Long)] = {
        val input = MemoryStream[Ev](s)
        val q = arm(input.toDS()).writeStream
          .format("memory").queryName(s"tws_twin_$tag")
          .outputMode("append").start()
        try {
          Seq(
            Seq(Ev(1, 10 * m, 1), Ev(1, 39 * m, 2)),
            Seq(Ev(1, 15 * m, 3), Ev(2, 20 * m, 4)),
            Seq(Ev(1, 60 * m, 5), Ev(2, 55 * m, 6)),
            Seq(Ev(3, 240 * m, 7), Ev(4, 239 * m, 8)),
            Seq(Ev(99, 300 * m, 9))
          ).foreach { batch =>
            input.addData(batch: _*)
            q.processAllAvailable()
          }
        } finally q.stop()
        s.table(s"tws_twin_$tag").as[Session].collect()
          .map(x => (x.user_id, x.n_events, x.start_us, x.end_us))
          .sorted.toSeq
      }
      val fmgws = drive("fmgws", Streams.sessionize)
      val tws = drive("tws", Streams.sessionizeTws)
      val want = Seq(
        (1L, 4L, 10 * m, 60 * m),   // late-merged, timeout after b4
        (2L, 1L, 20 * m, 20 * m),   // closed by gap in b3
        (2L, 1L, 55 * m, 55 * m),   // timeout after b4
        (4L, 1L, 239 * m, 239 * m)  // timer 269m < 270m: flushes
      ).sorted
      assert(fmgws == want, s"fmgws arm diverged: $fmgws")
      assert(tws == want, s"tws arm diverged: $tws")
      assert(!tws.exists(_._1 == 3L),
        "u3 (timer == watermark) must stay open under the strict rule")
    }
  }

  test("stream rows restore the confs they pin (an unset key stays unset)") {
    // q_stream_dedup pins the state partitions, q_stream_sessionize_tws
    // also the RocksDB provider, each only until start(). Afterwards both
    // keys must read as before; getAll lists only explicitly set keys, so
    // the unset provider key must still be absent from it.
    val s = spark
    val provider = Streams.RocksDbProvider._1
    val keys = Seq("spark.sql.shuffle.partitions", provider)
    def confs() = keys.map(k => k -> s.conf.getAll.get(k)).toMap
    val orig = s.conf.getAll.get(provider)
    s.conf.unset(provider)
    try {
      val before = confs()
      assert(before(provider).isEmpty)
      for (row <- Seq("q_stream_dedup", "q_stream_sessionize_tws")) {
        assert(SparkEntry.queries(row)(s, sfDir).count() > 0, s"$row: no rows")
        assert(confs() == before, s"$row left ${confs()}, not $before")
      }
    } finally orig.foreach(s.conf.set(provider, _))
  }

  test("dropDuplicatesWithinWatermark: dedup state is reclaimed and keys re-admit") {
    // The bounded-state streaming dedup (Spark 3.5+): global
    // dropDuplicates keeps one state row per key FOREVER (state ∝ key
    // cardinality — the q_stream_dedup shape); WithinWatermark evicts a
    // key once the watermark passes its event time + delay, so state is
    // bounded by keys ACTIVE IN THE HORIZON — the 100 TB shape for
    // unbounded key domains (event ids, request ids). The trade is
    // semantic: an evicted key RE-ADMITS. A single-batch registry drain
    // cannot show eviction, so the semantics are pinned here on a
    // planted 4-batch feed:
    //   b1  u1@10m emits, u1@12m dropped (dup in live state), u2@11m emits
    //   b2  u99@100m → watermark 70m > 10m+30m: u1/u2 state EVICTED
    //   b3  u1@80m emits AGAIN (re-admission after eviction)
    //   b4  u1@82m dropped (dup of the new live state)
    val s = spark
    import s.implicits._
    val m = 60L * 1000000
    val input = MemoryStream[Ev](s)
    val deduped = input.toDS().toDF()
      .withColumn("event_ts", timestamp_micros($"ts_us"))
      .withWatermark("event_ts", "30 minutes")
      .dropDuplicatesWithinWatermark("user_id")
    val q = deduped.writeStream
      .format("memory").queryName("dedup_wm").outputMode("append").start()
    try {
      Seq(
        Seq(Ev(1, 10 * m, 1), Ev(1, 12 * m, 2), Ev(2, 11 * m, 3)),
        Seq(Ev(99, 100 * m, 4)),
        Seq(Ev(1, 80 * m, 5)),
        Seq(Ev(1, 82 * m, 6))
      ).foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = s.table("dedup_wm").select($"user_id", $"ts_us")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10 * m), (2L, 11 * m), (99L, 100 * m),
      (1L, 80 * m)),
      s"expected u1 to emit twice (evicted then re-admitted) and both " +
        s"in-horizon dups dropped, got $got")
  }
}
