package graft.streaming

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders,
  KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery,
  TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

import graft.Q
import graft.operators.{Arith, ChunkStream, Complex, Relational, Scratch}

/** Structured Streaming surface over the `events` stream shape
  * (event_id, ts, user_id, event_type, value).
  *
  * The reference is batch-only — its nearest analog is the FIFO job queue
  * and 2 s heartbeat liveness (SURVEY.md §2.4 streaming row); this is the
  * extension surface. Everything here takes a DataFrame so the SAME plan
  * fragment runs on `spark.readStream` input (incremental, stateful) and on
  * batch input (the correctness oracle `q_sessionize` / `q_events_hourly`
  * run the identical semantics declaratively).
  */
object Streams {

  /** Event-time tumbling-window counts with a 1-hour watermark: the
    * streaming twin of q_events_hourly. Late rows beyond the watermark are
    * dropped; state is bounded by (watermark horizon × event_type
    * cardinality). */
  def hourlyCounts(events: DataFrame): DataFrame = events
    .withWatermark("ts", "1 hour")
    .groupBy(window(col("ts"), "1 hour"), col("event_type"))
    // dsum: exact decimal accumulation — identical across micro-batch
    // orders AND engines, so the streaming result is oracle-comparable
    .agg(count(lit(1)).as("n"), Arith.dsum(col("value")).as("sum_value"))
    .select(unix_timestamp(col("window.start")).as("hour_ts"),
      col("event_type"), col("n"), col("sum_value"))

  /** Sliding event-time windows (1 h length, 30 min slide) on a stream:
    * the streaming twin of q_events_sliding. Every event expands into
    * length/slide = 2 window rows BEFORE the stateful aggregation, so
    * partial aggregation still applies per micro-batch; the watermark
    * bounds state exactly as in [[hourlyCounts]] (horizon × event_type ×
    * 2 open windows). */
  def slidingCounts(events: DataFrame): DataFrame = events
    .withWatermark("ts", "1 hour")
    .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
    .agg(count(lit(1)).as("n"), Arith.dsum(col("value")).as("sum_value"))
    .select(unix_timestamp(col("window.start")).as("win_start"),
      col("event_type"), col("n"), col("sum_value"))

  /** Stream-static enrichment: join a stream against a batch dimension.
    * The static side broadcasts (re-read per micro-batch for parquet
    * sources, so slowly-changing dims stay fresh); the stream never
    * shuffles for the join. */
  def enrich(events: DataFrame, customers: DataFrame): DataFrame = events
    .join(broadcast(customers),
      events("user_id") === customers("c_custkey"), "left")
    .select(events("event_id"), events("user_id"), events("event_type"),
      events("value"), customers("c_mktsegment").as("segment"))

  /** Stream-stream inner join with watermarks: each click pairs with the
    * purchases the same user makes within the next 30 minutes. BOTH sides
    * carry a watermark and the join condition bounds the event-time range,
    * so each side's buffered state is reclaimable once the watermark
    * passes the range — the canonical bounded-state stream-stream join.
    * Works identically on batch inputs (the StreamingSpec twin).
    */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "30 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "30 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    c.join(p, col("c_user") === col("p_user") &&
      col("purchase_ts") >= col("click_ts") &&
      col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("click_ts"), col("purchase_ts"))
  }

  /** An event a per-user state machine folds: keyed by `user_id`, folded
    * in (ts_us, event_id) order. */
  sealed trait UserEvent {
    def user_id: Long
    def ts_us: Long
    def event_id: Long
  }
  case class Ev(user_id: Long, ts_us: Long, event_id: Long) extends UserEvent
  case class SessionState(startUs: Long, endUs: Long, n: Long)
  case class Session(user_id: Long, n_events: Long, start_us: Long,
      end_us: Long)
  case class FEv(user_id: Long, ts_us: Long, event_id: Long,
      event_type: String) extends UserEvent
  /** Per-user funnel clocks; −1 = stage not reached. */
  case class FunnelState(t1: Long, t2: Long, t3: Long)
  case class FunnelUser(user_id: Long, s1: Boolean, s2: Boolean,
      s3: Boolean)
  /** [[FunnelState]] plus the live-stream bookkeeping of the retained
    * arm: last activity instant (drives the TTL) and whether the clocks
    * changed since the last emission (drives delta emission). */
  case class FunnelStateR(t1: Long, t2: Long, t3: Long, lastUs: Long,
      dirty: Boolean)

  /** 30-minute session gap, in microseconds. */
  val GapUs: Long = 1800L * 1000000

  /** One per-user stateful operator as a pure value, independent of the
    * Spark API that runs it: [[viaGroupState]] runs it on
    * flatMapGroupsWithState, [[viaProcessor]] on transformWithState, so
    * the two arms of each operator cannot drift apart. Timeout instants
    * follow the flatMapGroupsWithState convention: a state times out once
    * the watermark (ms) is strictly past its instant. */
  private trait Machine[E, S, O] extends Serializable {
    /** The state of a user with none stored. */
    def empty: S
    /** Fold one batch of a user's events, sorted by (ts_us, event_id):
      * the new state and the rows to emit. */
    def fold(user: Long, s: S, events: Seq[E]): (S, Seq[O])
    /** The timeout instant (ms) of `s` under watermark `wmMs`. */
    def timeoutMs(s: S, wmMs: Long): Long
    /** `s` timed out: the rows to emit, and the state to keep (re-armed)
      * or None to drop it. */
    def expire(user: Long, s: S, wmMs: Long): (Seq[O], Option[S])
  }

  /** Sessionization: one open session per user; a gap > 30 min closes and
    * emits the previous session. Batch-equivalent: q_sessionize
    * (operators.Complex).
    *
    * State is bounded: the timeout fires once the watermark passes
    * (session end + gap), emitting the idle session and reclaiming the
    * user's state — otherwise the last open session per user would never
    * emit and churned users would leak state.
    *
    * The watermark bounds lateness only to the 30-minute horizon, so a
    * within-horizon late event can arrive after the session advanced: the
    * fold extends with min(start)/max(end), since overwriting the end
    * would let a late event regress it and mis-split on the next gap. */
  private object SessionMachine
      extends Machine[Ev, SessionState, Session] {
    /** n = 0: no open session. */
    val empty: SessionState = SessionState(0L, 0L, 0L)

    def fold(user: Long, s0: SessionState, events: Seq[Ev])
        : (SessionState, Seq[Session]) = {
      val closed = Seq.newBuilder[Session]
      val s = events.foldLeft(s0) { (s, e) =>
        if (s.n > 0 && e.ts_us - s.endUs <= GapUs)
          SessionState(math.min(s.startUs, e.ts_us),
            math.max(s.endUs, e.ts_us), s.n + 1)
        else {
          if (s.n > 0) closed += Session(user, s.n, s.startUs, s.endUs)
          SessionState(e.ts_us, e.ts_us, 1)
        }
      }
      (s, closed.result())
    }

    // clamp: a backlog replay can put end+gap at/under the watermark,
    // which setTimeoutTimestamp rejects — the session then times out on
    // the very next no-data batch instead
    def timeoutMs(s: SessionState, wmMs: Long): Long =
      math.max(s.endUs / 1000 + GapUs / 1000, wmMs + 1)

    def expire(user: Long, s: SessionState, wmMs: Long)
        : (Seq[Session], Option[SessionState]) =
      (Seq(Session(user, s.n, s.startUs, s.endUs)), None)
  }

  /** Ordered-funnel snapshot: three stage clocks per user, advanced per
    * event by [[advanceFunnel]], emitted and dropped when the watermark
    * overtakes the user (the timeout sits just above the current
    * watermark). Batch-equivalent: q_funnel (operators.Complex) — stage
    * k's instant is a MIN over events strictly later than stage k−1's
    * clock, and the (ts_us, event_id)-ordered fold makes the running
    * first match exactly that MIN. Cross-batch exactness therefore needs
    * event-time-ordered batches, which is why the registered rows drain
    * in one data batch and enforce it. */
  private object FunnelSnapshotMachine
      extends Machine[FEv, FunnelState, FunnelUser] {
    val empty: FunnelState = FunnelState(-1L, -1L, -1L)

    def fold(user: Long, s: FunnelState, events: Seq[FEv])
        : (FunnelState, Seq[FunnelUser]) =
      (events.foldLeft(s)(advanceFunnel), Nil)

    def timeoutMs(s: FunnelState, wmMs: Long): Long = wmMs + 1

    def expire(user: Long, s: FunnelState, wmMs: Long)
        : (Seq[FunnelUser], Option[FunnelState]) =
      (Seq(FunnelUser(user, s.t1 >= 0, s.t2 >= 0, s.t3 >= 0)), None)
  }

  /** The live-deployment funnel: unlike the snapshot machine it RETAINS
    * state across idle periods, so a user who returns after an idle flush
    * still completes the funnel.
    *  - delta emission: an idle flush emits a user only if the clocks
    *    changed since the last emission (the first flush always emits),
    *    so consumers see an append-only snapshot history per user and keep
    *    the latest row;
    *  - TTL reclaim: once the watermark passes last activity + `ttlUs`
    *    the state is dropped (after a final emission if dirty), so state
    *    is bounded by users active within the TTL;
    *  - while retained, the timeout re-arms at watermark + 1: one state
    *    read per retained user per watermark advance, the cost of TTL
    *    expiry without a timer index. */
  private final case class FunnelRetainedMachine(ttlUs: Long)
      extends Machine[FEv, FunnelStateR, FunnelUser] {
    val empty: FunnelStateR =
      FunnelStateR(-1L, -1L, -1L, Long.MinValue, dirty = true)

    def fold(user: Long, s0: FunnelStateR, events: Seq[FEv])
        : (FunnelStateR, Seq[FunnelUser]) =
      (events.foldLeft(s0) { (s, e) =>
        val adv = advanceFunnel(FunnelState(s.t1, s.t2, s.t3), e)
        FunnelStateR(adv.t1, adv.t2, adv.t3, math.max(s.lastUs, e.ts_us),
          s.dirty || (adv.t1, adv.t2, adv.t3) != (s.t1, s.t2, s.t3))
      }, Nil)

    def timeoutMs(s: FunnelStateR, wmMs: Long): Long = wmMs + 1

    def expire(user: Long, s: FunnelStateR, wmMs: Long)
        : (Seq[FunnelUser], Option[FunnelStateR]) =
      (if (s.dirty) Seq(FunnelUser(user, s.t1 >= 0, s.t2 >= 0, s.t3 >= 0))
       else Nil,
       if (wmMs >= s.lastUs / 1000 + ttlUs / 1000) None
       else Some(s.copy(dirty = false)))
  }

  /** One event against the three stage clocks — strict ordering (each
    * stage's instant must be strictly later than the previous stage's),
    * first qualifying instant wins. Shared by both funnel machines. */
  private def advanceFunnel(s: FunnelState, e: FEv): FunnelState =
    e.event_type match {
      case "signup" if s.t1 < 0 => s.copy(t1 = e.ts_us)
      case "click" if s.t1 >= 0 && e.ts_us > s.t1 && s.t2 < 0 =>
        s.copy(t2 = e.ts_us)
      case "purchase" if s.t2 >= 0 && e.ts_us > s.t2 && s.t3 < 0 =>
        s.copy(t3 = e.ts_us)
      case _ => s
    }

  private implicit def productEncoder[T <: Product : TypeTag]: Encoder[T] =
    Encoders.product[T]

  /** The 30-minute event-time watermark and per-user grouping every
    * machine runs under. */
  private def byUser[E <: UserEvent : Encoder](events: Dataset[E])
      : KeyValueGroupedDataset[Long, E] =
    events.toDF()
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", "30 minutes")
      .as[E]
      .groupByKey(_.user_id)(Encoders.scalaLong)

  /** Within a micro-batch the group iterator is not time-ordered. */
  private def sorted[E <: UserEvent](events: Iterator[E]): Seq[E] =
    events.toSeq.sortBy(e => (e.ts_us, e.event_id))

  /** Run `m` on flatMapGroupsWithState with event-time timeouts.
    * `armOnBatch = false` skips arming the timeout on batch input, where
    * timeouts never fire. */
  private def viaGroupState[E <: UserEvent : Encoder, S : Encoder,
      O : Encoder](events: Dataset[E], m: Machine[E, S, O],
      armOnBatch: Boolean = true): Dataset[O] = {
    val armTimeouts = armOnBatch || events.isStreaming
    byUser(events).flatMapGroupsWithState[S, O](
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (user: Long, it: Iterator[E], state: GroupState[S]) =>
        if (state.hasTimedOut) state.getOption match {
          case Some(s) =>
            val wm = state.getCurrentWatermarkMs()
            val (out, keep) = m.expire(user, s, wm)
            keep match {
              case Some(k) =>
                state.update(k)
                state.setTimeoutTimestamp(m.timeoutMs(k, wm))
              case None => state.remove()
            }
            out.iterator
          case None => Iterator.empty
        } else {
          val (s, out) =
            m.fold(user, state.getOption.getOrElse(m.empty), sorted(it))
          state.update(s)
          if (armTimeouts)
            state.setTimeoutTimestamp(
              m.timeoutMs(s, state.getCurrentWatermarkMs()))
          out.iterator
        }
    }
  }

  /** Runs a [[Machine]] on transformWithState: one named ValueState and
    * one event-time timer per user (stale timers deleted on each input
    * batch). transformWithState requires the RocksDB state store — the
    * caller sets [[RocksDbProvider]]. */
  private final class MachineProcessor[E <: UserEvent, S, O](
      m: Machine[E, S, O], stateName: String, stateEnc: Encoder[S])
      extends StatefulProcessor[Long, E, O] {
    @transient private var st: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[S](stateName, stateEnc, TTLConfig.NONE)

    // +1: flatMapGroupsWithState times out iff instant < watermark, but
    // transformWithState expires a timer iff instant <= watermark;
    // registering one ms later puts both arms on the same strict boundary
    private def armTimer(s: S, wmMs: Long): Unit =
      getHandle.registerTimer(m.timeoutMs(s, wmMs) + 1)

    override def handleInputRows(user: Long, rows: Iterator[E],
        tv: TimerValues): Iterator[O] = {
      val (s, out) =
        m.fold(user, if (st.exists()) st.get() else m.empty, sorted(rows))
      st.update(s)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      armTimer(s, tv.getCurrentWatermarkInMs())
      out.iterator
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[O] =
      // a stray timer delivered after the state was cleared is a no-op,
      // not an NPE task failure
      if (!st.exists()) Iterator.empty
      else {
        val (out, keep) = m.expire(user, st.get(), tv.getCurrentWatermarkInMs())
        keep match {
          // the framework deletes the fired timer; re-arm
          case Some(k) =>
            st.update(k)
            armTimer(k, tv.getCurrentWatermarkInMs())
          case None => st.clear()
        }
        out.iterator
      }
  }

  /** Run `m` on transformWithState, its state stored as `stateName`. */
  private def viaProcessor[E <: UserEvent : Encoder, S : Encoder,
      O : Encoder](events: Dataset[E], m: Machine[E, S, O],
      stateName: String): Dataset[O] =
    byUser(events).transformWithState(
      new MachineProcessor(m, stateName, implicitly[Encoder[S]]),
      TimeMode.EventTime(), OutputMode.Append())

  /** Sessionization ([[SessionMachine]]) on flatMapGroupsWithState. */
  def sessionize(events: Dataset[Ev]): Dataset[Session] =
    viaGroupState(events, SessionMachine, armOnBatch = false)

  /** Sessionization ([[SessionMachine]]) on transformWithState; needs the
    * RocksDB state store. */
  def sessionizeTws(events: Dataset[Ev]): Dataset[Session] =
    viaProcessor(events, SessionMachine, "open")

  /** The snapshot funnel ([[FunnelSnapshotMachine]]) on
    * flatMapGroupsWithState. */
  def funnelSnapshot(events: Dataset[FEv]): Dataset[FunnelUser] =
    viaGroupState(events, FunnelSnapshotMachine)

  /** The snapshot funnel ([[FunnelSnapshotMachine]]) on
    * transformWithState; needs the RocksDB state store. */
  def funnelSnapshotTws(events: Dataset[FEv]): Dataset[FunnelUser] =
    viaProcessor(events, FunnelSnapshotMachine, "funnel")

  /** The retained funnel ([[FunnelRetainedMachine]]) on
    * flatMapGroupsWithState. */
  def funnelRetained(events: Dataset[FEv], ttlUs: Long): Dataset[FunnelUser] =
    viaGroupState(events, FunnelRetainedMachine(ttlUs))

  /** The retained funnel ([[FunnelRetainedMachine]]) on
    * transformWithState; needs the RocksDB state store. */
  def funnelRetainedTws(events: Dataset[FEv], ttlUs: Long): Dataset[FunnelUser] =
    viaProcessor(events, FunnelRetainedMachine(ttlUs), "funnel")

  /** The file-source stream over the events parquet — the shared recipe
    * for every registered streaming row. Subtleties, in one place:
    *  - glob, not the bare file path: for a non-glob path the file stream
    *    source force-sets basePath to the path itself, which then fails
    *    the "basePath must be a directory" check;
    *  - footer-only batch read supplies the schema;
    *  - maxFilesPerTrigger is pinned HIGH so AvailableNow drains the whole
    *    input as ONE micro-batch: split batches would advance the
    *    watermark between them and drop "late" rows that the batch-twin
    *    oracles keep — correctness here must not depend on file layout;
    *  - same nanosAsLong pin and ts normalization as the batch
    *    Tables.events reader, via Tables.readEvents.
    */
  private def eventsStream(s: SparkSession, d: String): DataFrame =
    graft.Tables.readEvents(s) {
      val schema = s.read.parquet(s"$d/events.parquet").schema // footer only
      s.readStream.schema(schema)
        .option("basePath", d)
        .option("maxFilesPerTrigger", "1000000")
        .parquet(s"$d/events*.parquet")
    }

  /** The state store transformWithState requires. */
  private[graft] val RocksDbProvider = (
    "spark.sql.streaming.stateStore.providerClass",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Stateful rows size their state stores by key cardinality (~150
    * users), not core count: every stateful partition pays per-batch
    * commit I/O, and 32 stores for 150 keys ran 4× slower than 8. */
  private val StatePartitions = ("spark.sql.shuffle.partitions", "8")

  /** Run `body` with `confs` set on `s`, then restore every key it set —
    * a key that was unset is unset again. */
  private[graft] def withConf[T](s: SparkSession, confs: (String, String)*)(
      body: => T): T = {
    val prev = confs.map { case (k, _) => k -> s.conf.getAll.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Drain `frame` into the memory sink `<row>_sink` with AvailableNow and
    * wait for it. `statePartitions`/`rocks` pin [[StatePartitions]] and
    * [[RocksDbProvider]] only until `start()`: the stream clones the
    * session conf at start. */
  private def drain(s: SparkSession, row: String, mode: OutputMode,
      statePartitions: Boolean = false, rocks: Boolean = false)(
      frame: => Dataset[_]): StreamingQuery = {
    val confs = Seq(StatePartitions).filter(_ => statePartitions) ++
      Seq(RocksDbProvider).filter(_ => rocks)
    val q = withConf(s, confs: _*) {
      frame.writeStream
        .format("memory").queryName(s"${row}_sink")
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    q
  }

  /** Fail `row` loudly unless `q` kept its data-batch contract: an oracle
    * row drains in at most ONE data batch (a split drain advances the
    * watermark mid-data and drops rows its batch-twin oracle keeps), an
    * incremental row in at least three (fewer is the batch twin in
    * disguise). `rocks` also requires RocksDB metrics in the progress, so
    * a silent fallback to the default store fails the row. */
  private def requireBatches(row: String, q: StreamingQuery,
      oracle: Boolean, rocks: Boolean = false): Unit = {
    val data = q.recentProgress.count(_.numInputRows > 0)
    if (oracle && data > 1) throw new IllegalStateException(
      s"$row drained in $data data batches; " +
        "the single-batch oracle contract is void")
    if (!oracle && data < 3) throw new IllegalStateException(
      s"$row drained in $data data batches; " +
        "the incremental contract needs >= 3")
    if (rocks && !q.recentProgress.flatMap(_.stateOperators)
        .exists(_.customMetrics.keySet.asScala.exists(_.contains("rocksdb"))))
      throw new IllegalStateException(
        s"$row: no rocksdb custom metrics in progress — the " +
          "required state-store provider did not take effect")
  }

  /** The body of the four arbitrary-state rows: the events stream as the
    * arm's event type, drained on 8 state partitions (and RocksDB for the
    * transformWithState arms) under the single-batch oracle contract. */
  private def statefulRow[E <: UserEvent : Encoder](s: SparkSession,
      d: String, row: String, arm: Dataset[E] => Dataset[_],
      rocks: Boolean): DataFrame = {
    val q = drain(s, row, OutputMode.Append, statePartitions = true,
        rocks = rocks) {
      arm(eventsStream(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
        .select(implicitly[Encoder[E]].schema.fieldNames.toSeq.map(col): _*)
        .as[E])
    }
    requireBatches(row, q, oracle = true, rocks = rocks)
    s.table(q.name)
  }

  private def sessionRows(df: DataFrame): DataFrame =
    df.select(col("user_id"), col("n_events"), col("start_us"),
      col("end_us"))
      .orderBy("user_id", "start_us")

  private def funnelCounts(df: DataFrame): DataFrame =
    df.agg(
      count_if(col("s1")).as("n_signup"),
      count_if(col("s2")).as("n_click"),
      count_if(col("s3")).as("n_purchase"))

  /** The incremental foreachBatch rows: stage a 6-chunk feed under a
    * fresh scratch dir, drain it, require >= 3 data batches, then read
    * the result from the accumulated state. */
  private def incrementalRow(s: SparkSession, d: String, row: String,
      stage: (SparkSession, String, Int, String) => Unit,
      start: (SparkSession, String, String) => StreamingQuery)(
      result: (SparkSession, String) => DataFrame): DataFrame = {
    val scratch = Scratch.fresh(row)
    stage(s, d, 6, ChunkStream.feed(scratch))
    val q = start(s, ChunkStream.feed(scratch), scratch)
    q.awaitTermination()
    requireBatches(row, q, oracle = false)
    result(s, scratch)
  }

  val queries: Seq[Q] = Seq(
    // A real file-source STREAM over the events parquet, drained through
    // [[hourlyCounts]] into a Complete-mode memory sink — the harness
    // choice: its size is the AGGREGATE output (hours × event types); a
    // production deployment sinks append-mode parquet/Kafka instead. The
    // oracle is the batch twin q_events_hourly's SQL (minus
    // countDistinct, which streaming aggregation doesn't support exactly).
    Q("q_stream_hourly",
      (s, d) => s.table(drain(s, "q_stream_hourly", OutputMode.Complete)(
          hourlyCounts(eventsStream(s, d))).name)
        .orderBy("hour_ts", "event_type"),
      Some(s"""SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_ts,
              event_type, COUNT(*) AS n, ${Arith.sqlSum("value")} AS sum_value
              FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""")),

    // Streaming top-k: the serve-side leaderboard pattern. Structured
    // Streaming cannot run a rank window over a streaming aggregate, and
    // the production shape doesn't want it to: the stream maintains the
    // per-(hour, type) counts incrementally and the rank is computed AT
    // READ TIME over the materialized aggregate. The oracle ranks the
    // batch twin identically (ties → event_type asc).
    Q("q_stream_topk",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val q = drain(s, "q_stream_topk", OutputMode.Complete)(
          hourlyCounts(eventsStream(s, d)))
        val w = Window.partitionBy("hour_ts")
          .orderBy(col("n").desc, col("event_type"))
        s.table(q.name)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("hour_ts"), col("rk"), col("event_type"), col("n"))
          .orderBy("hour_ts", "rk")
      },
      Some("""SELECT hour_ts, CAST(rk AS INTEGER) AS rk, event_type, n
              FROM (
                SELECT hour_ts, event_type, n,
                  row_number() OVER (PARTITION BY hour_ts
                    ORDER BY n DESC, event_type) AS rk
                FROM (
                  SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                    AS BIGINT) AS hour_ts, event_type, COUNT(*) AS n
                  FROM events GROUP BY 1, 2))
              WHERE rk <= 3 ORDER BY hour_ts, rk""")),

    // Sliding windows on the stream (Complete-mode memory sink like
    // q_stream_hourly, so ALL windows emit and the oracle is the plain
    // batch sliding aggregation — q_events_sliding's oracle).
    Q("q_stream_sliding",
      (s, d) => s.table(drain(s, "q_stream_sliding", OutputMode.Complete)(
          slidingCounts(eventsStream(s, d))).name)
        .orderBy("win_start", "event_type"),
      Some(Relational.EventsSlidingOracleSql)),

    // Append-mode parquet sink — the PRODUCTION sink shape (q_stream_hourly's
    // memory/Complete sink is the harness-bounded variant): each window row
    // is written exactly once, when the watermark passes the window end and
    // the aggregate can no longer change; state for the window is reclaimed
    // at the same moment. AvailableNow drains the data in one micro-batch,
    // then the no-data batch advances the watermark to (max event time − 1h)
    // and flushes every closed window to the files. Windows the watermark
    // has not passed (the trailing hour of the data) remain open and
    // UNWRITTEN — the oracle is the batch twin restricted to exactly those
    // closed windows.
    Q("q_stream_hourly_append",
      (s, d) => {
        val stream = eventsStream(s, d)
        // fresh dirs per invocation: the bench runs every query twice
        val outDir = Scratch.fresh("append-out")
        val ckpt = Scratch.fresh("append-ckpt")
        val q = hourlyCounts(stream).writeStream
          .format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(outDir).orderBy("hour_ts", "event_type")
      },
      // closed window ⇔ window end ≤ watermark = max(ts) − 1h. Spark's
      // event-time stats FLOOR the max to milliseconds before the delay is
      // subtracted (EventTimeWatermarkExec tracks ms), so the oracle floors
      // the same way — an exact-microsecond watermark would disagree for
      // data whose max lands within 1 ms above a window boundary + delay
      Some(s"""WITH wm AS (
                SELECT (MAX(epoch_us(CAST(ts AS TIMESTAMP))) // 1000) * 1000
                  - 3600000000 AS wm_us FROM events),
              g AS (
                SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
                    AS hour_ts,
                  event_type, COUNT(*) AS n,
                  ${Arith.sqlSum("value")} AS sum_value
                FROM events GROUP BY 1, 2)
              SELECT g.hour_ts, g.event_type, g.n, g.sum_value
              FROM g, wm
              WHERE (g.hour_ts + 3600) * 1000000 <= wm.wm_us
              ORDER BY hour_ts, event_type""")),

    // Stream-static enrichment: the events STREAM joins the customer
    // dimension (broadcast per micro-batch — the static side re-reads, so
    // slowly-changing dims stay fresh; the stream never shuffles for the
    // join), then aggregates per segment. The oracle is the identical
    // batch join; events with no customer land in a NULL segment bucket.
    Q("q_stream_enrich",
      (s, d) => {
        val q = drain(s, "q_stream_enrich", OutputMode.Complete) {
          val stream = eventsStream(s, d)
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("value"))
          // through the Tables loader like every batch query — it is the
          // single point where per-table read quirks live
          val customers = graft.Tables(s, d, "customer")
            .select(col("c_custkey"), col("c_mktsegment"))
          enrich(stream, customers)
            .groupBy("segment")
            .agg(count(lit(1)).as("n"), Arith.dsum(col("value")).as("sum_value"))
        }
        s.table(q.name).orderBy(col("segment").asc_nulls_first)
      },
      Some(s"""SELECT c_mktsegment AS segment, COUNT(*) AS n,
              ${Arith.sqlSum("value")} AS sum_value
              FROM events LEFT JOIN customer ON user_id = c_custkey
              GROUP BY c_mktsegment
              ORDER BY segment NULLS FIRST""")),

    // Streaming dedup with bounded state: dropDuplicatesWithinWatermark
    // evicts a key once the watermark passes event time + delay, so state
    // is bounded by keys active in the horizon instead of global key
    // cardinality (q_stream_dedup). On a single-data-batch drain no key is
    // evicted mid-stream, so the emitted rows are exactly the distinct
    // keys and the oracle is plain DISTINCT; eviction and re-admission
    // need a multi-batch feed and are pinned in StreamingSpec.
    Q("q_stream_dedup_wm",
      (s, d) => {
        val q = drain(s, "q_stream_dedup_wm", OutputMode.Append,
            statePartitions = true) {
          eventsStream(s, d).select(col("user_id"), col("event_type"), col("ts"))
            .withWatermark("ts", "30 minutes")
            .dropDuplicatesWithinWatermark("user_id", "event_type")
        }
        requireBatches("q_stream_dedup_wm", q, oracle = true)
        s.table(q.name).select(col("user_id"), col("event_type"))
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
              ORDER BY user_id, event_type""")),

    // Streaming exact dedup: one state row per distinct key, emitting each
    // key's first arrival — state is bounded by key cardinality (users ×
    // event types). Emitted rows are exactly the distinct keys.
    Q("q_stream_dedup",
      (s, d) => s.table(drain(s, "q_stream_dedup", OutputMode.Append,
          statePartitions = true) {
          eventsStream(s, d).select(col("user_id"), col("event_type"))
            .dropDuplicates("user_id", "event_type")
        }.name).orderBy("user_id", "event_type"),
      Some("""SELECT DISTINCT user_id, event_type FROM events
              ORDER BY user_id, event_type""")),

    // Arbitrary stateful logic as a driver row: [[SessionMachine]] on
    // flatMapGroupsWithState (the batch twin q_sessionize uses a lag
    // window, so the two formulations cross-check). AvailableNow drains
    // the data as ONE micro-batch (every gap-closed session emits), then
    // the no-data batch advances the watermark to max−30min and fires the
    // timeouts: an idle final session flushes iff its timeout (end+gap, in
    // watermark MILLISECONDS) lies strictly below that watermark. The
    // oracle recomputes exactly that: all lag-window sessions, minus each
    // user's last UNLESS ⌊max⌋ms − ⌊end⌋ms > 3,600,000 (delay + gap) — so
    // the row pins the timeout arithmetic, ms flooring and strict
    // inequality included, cross-engine.
    Q("q_stream_sessionize",
      (s, d) => sessionRows(statefulRow(s, d, "q_stream_sessionize",
        sessionize, rocks = false)),
      Some(sessionizeOracleSql)),

    // The same machine on transformWithState, held to the SAME oracle
    // verbatim, timeout boundary included.
    Q("q_stream_sessionize_tws",
      (s, d) => sessionRows(statefulRow(s, d, "q_stream_sessionize_tws",
        sessionizeTws, rocks = true)),
      Some(sessionizeOracleSql)),

    // Streaming funnel snapshot: [[FunnelSnapshotMachine]] flushed by the
    // watermark timeout in the no-data batch, the per-user flags
    // aggregated to the batch twin's three counts — whose oracle SQL this
    // row reuses: on a single-data-batch drain the snapshot sees
    // every event, so streaming must equal batch exactly.
    Q("q_stream_funnel",
      (s, d) => funnelCounts(statefulRow(s, d, "q_stream_funnel",
        funnelSnapshot, rocks = false)),
      Some(Complex.FunnelOracleSql)),

    // The same machine on transformWithState, held to the same oracle.
    Q("q_stream_funnel_tws",
      (s, d) => funnelCounts(statefulRow(s, d, "q_stream_funnel_tws",
        funnelSnapshotTws, rocks = true)),
      Some(Complex.FunnelOracleSql)),

    // Stream-stream join as a driver row: two file-source streams over the
    // same events data (clicks / purchases), joined with watermarks and an
    // event-time range. The oracle is the plain batch join over
    // MICROSECOND epochs on both sides (the parquet is nanos; both engines
    // compare after the same truncation).
    Q("q_stream_join",
      (s, d) => {
        val q = drain(s, "q_stream_join", OutputMode.Append,
            statePartitions = true) {
          def src = eventsStream(s, d)
            .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          clickToPurchase(
            src.filter(col("event_type") === "click"),
            src.filter(col("event_type") === "purchase"))
        }
        s.table(q.name)
          .select(col("user_id"), col("click_id"), col("purchase_id"),
            unix_micros(col("click_ts")).as("click_us"),
            unix_micros(col("purchase_ts")).as("purchase_us"))
          .orderBy("user_id", "click_id", "purchase_id")
      },
      Some("""WITH e AS (
                SELECT user_id, event_id, event_type,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
                FROM events)
              SELECT c.user_id, c.event_id AS click_id,
                p.event_id AS purchase_id,
                c.us AS click_us, p.us AS purchase_us
              FROM e c JOIN e p ON c.user_id = p.user_id
                AND c.event_type = 'click' AND p.event_type = 'purchase'
                AND p.us >= c.us AND p.us <= c.us + 1800000000
              ORDER BY c.user_id, click_id, purchase_id""")),

    // Streaming corpus curation: the q_corpus_pipeline stage chain run
    // INCREMENTALLY — doc_id-ordered micro-batches through foreachBatch,
    // per-batch minlen → quality → exact/near dedup against the
    // accumulated stage-3 state, survivors and counts written idempotently
    // per batch id. Held to the BATCH pipeline's oracle verbatim on the
    // final corpus state (batch body in operators/Dedup.scala, state in
    // operators/ChunkStream.scala; the hard-kill/resume proof is
    // StreamKillMain phase=corpuskill). It keeps the session's shuffle
    // partitions: the per-batch minhash kernel is CPU-bound and has no
    // state store to economize on.
    Q("q_stream_corpus_pipeline",
      (s, d) => incrementalRow(s, d, "q_stream_corpus_pipeline",
        graft.operators.Dedup.stageCorpusFeed,
        graft.operators.Dedup.startCorpusStream)(
        graft.operators.Dedup.corpusStreamResult),
      Some(graft.operators.Dedup.CorpusPipelineOracleSql)),

    // Streaming IVF index maintenance, the ANN analog of
    // q_stream_corpus_pipeline: vec_id-ordered embedding micro-batches,
    // batch 0 freezes the IVF centroids, every batch accumulates exact
    // integer per-bucket partials; the assembled report (n_vecs, mean_cos,
    // min_cos, centroid drift per bucket) is held to the one-pass batch
    // twin's oracle exactly (machinery in operators/Similarity.scala;
    // hard-kill/resume proof is StreamKillMain phase=annkill/annresume).
    Q("q_stream_ann_index",
      (s, d) => incrementalRow(s, d, "q_stream_ann_index",
        graft.operators.Similarity.stageEmbedFeed,
        graft.operators.Similarity.startAnnIndexStream)(
        graft.operators.Similarity.annIndexStreamResult),
      Some(graft.operators.Similarity.AnnIndexStreamOracleSql)),

    // The drift TRAJECTORY the final index report collapses: per
    // (batch, bucket) occupancy, cumulative occupancy and cumulative
    // centroid drift. Same machinery and state as q_stream_ann_index
    // (partials carry their batch id, so the report survives compaction);
    // the oracle recomputes the feed's id-range batch boundaries.
    Q("q_stream_ann_drift",
      (s, d) => incrementalRow(s, d, "q_stream_ann_drift",
        graft.operators.Similarity.stageEmbedFeed,
        graft.operators.Similarity.startAnnIndexStream)(
        graft.operators.Similarity.annIndexDriftResult),
      Some(graft.operators.Similarity.sqlAnnDriftOracle(6))))

  /** The q_stream_sessionize[_tws] oracle: q_sessionize's sessions minus
    * each user's unflushed last one (see the registration comment for the
    * timeout-rule derivation). */
  private lazy val sessionizeOracleSql: String =
    Complex.sessionIdCtes("", "eus,") + s""",
              sess AS (
                ${Complex.SessionRollupSql}),
              wm AS (
                SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
                FROM events),
              lastflag AS (
                SELECT s.*, row_number() OVER (PARTITION BY user_id
                    ORDER BY start_us DESC) = 1 AS is_last
                FROM sess s)
              SELECT user_id, n_events, start_us, end_us
              FROM lastflag, wm
              WHERE NOT is_last
                 OR (max_us // 1000) - (end_us // 1000) > 3600000
              ORDER BY user_id, start_us"""
}
