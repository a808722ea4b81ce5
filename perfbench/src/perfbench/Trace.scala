package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the harness's own calls (op → build/execute).
  * Disabled in untraced runs, where `apply` only runs the body. */
final class Spans(val enabled: Boolean) {
  final case class Span(id: Int, kind: String, name: String, parent: Int,
      op: Int, start: Long, end: Long)

  val done = ArrayBuffer[Span]()
  private var stack = List.empty[(Int, String, String, Long)]
  private var next = 0
  @volatile var op: Int = -1

  def apply[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      stack = (id, kind, name, System.currentTimeMillis()) :: stack
      try body
      finally {
        val (_, _, _, start) = stack.head
        stack = stack.tail
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        done += Span(id, kind, name, parent, op, start, System.currentTimeMillis())
      }
    }
}

/** Per-op counters gathered from the listener buses. */
final class OpStats(val seq: Int, val name: String, val mr: Boolean,
    val start: Long) {
  var end: Long = Long.MaxValue
  var jobs, stages, tasks, retried = 0L
  var runMs, cpuNs, gcMs = 0L
  var inBytes, inRecords = 0L
  var shWriteBytes, shReadBytes, shRecords, shWriteNs, fetchWaitMs = 0L
  var spillBytes, peakExec = 0L
  var outBytes = 0L
  var mapStageMs, resultStageMs, mapRecordsOut = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var graftPlan = false
  var skew = 0.0
  val jobSpans = ArrayBuffer[(Int, Long, Long)]()
  val batchMs = ArrayBuffer[Long]()
  var addBatchMs, walMs, stateCommitMs = 0L
  val stateRows = mutable.Map[String, Long]()
}

object Tracer {
  /** Job tag of the op with sequence number n: `perfbench-op-<n>`. */
  val TagPrefix = "perfbench-op-"
}

/** Listeners for the traced run: Spark jobs/stages/tasks, Catalyst phases
  * and streaming progress, each attributed to the op that was in flight.
  * Jobs carry the op's job tag (set by the harness, inherited by the
  * threads an op starts); events without it are attributed by time, which
  * is exact because only one op is ever in flight. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer.TagPrefix
  private val ops = ArrayBuffer[OpStats]()
  private val jobOp = mutable.Map[Int, OpStats]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageOp = mutable.Map[Int, OpStats]()
  private val stageReads = mutable.Map[Int, ArrayBuffer[Long]]()

  def opened(seq: Int, name: String, mr: Boolean): OpStats = synchronized {
    val s = new OpStats(seq, name, mr, System.currentTimeMillis())
    ops += s
    s
  }

  def closed(s: OpStats): Unit = synchronized { s.end = System.currentTimeMillis() }

  def all: Seq[OpStats] = synchronized(ops.toSeq)

  private def at(t: Long): Option[OpStats] =
    ops.reverseIterator.find(s => s.start <= t && t <= s.end)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tagged = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(","))
      .collectFirst { case t if t.startsWith(TagPrefix) =>
        t.stripPrefix(TagPrefix).toInt }
      .flatMap(seq => ops.reverseIterator.find(_.seq == seq))
    tagged.orElse(at(e.time)).foreach { s =>
      s.jobs += 1
      jobOp(e.jobId) = s
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageOp(_) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (s <- jobOp.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
      s.jobSpans += ((e.jobId, t0, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val reads = stageReads.remove(info.stageId).getOrElse(ArrayBuffer.empty[Long])
    stageOp.remove(info.stageId).foreach { s =>
      s.stages += 1
      if (reads.size >= 2 && reads.sum >= (64L << 10)) {
        val sorted = reads.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med > 0) s.skew = math.max(s.skew, sorted.last / med)
      }
      if (s.mr) {
        val wall = (for (a <- info.submissionTime; b <- info.completionTime)
          yield b - a).getOrElse(0L)
        if (info.taskMetrics.shuffleWriteMetrics.recordsWritten > 0) s.mapStageMs += wall
        else s.resultStageMs += wall
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (e.taskInfo.attemptNumber > 0 || e.taskInfo.speculative) s.retried += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecords += m.inputMetrics.recordsRead
        s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shRecords += m.shuffleWriteMetrics.recordsWritten
        s.shWriteNs += m.shuffleWriteMetrics.writeTime
        val read = m.shuffleReadMetrics.totalBytesRead
        s.shReadBytes += read
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
        s.peakExec = math.max(s.peakExec, m.peakExecutionMemory)
        s.outBytes += m.outputMetrics.bytesWritten
        if (s.mr) s.mapRecordsOut += m.shuffleWriteMetrics.recordsWritten
        if (read > 0) stageReads.getOrElseUpdate(e.stageId, ArrayBuffer()) += read
      }
    }
  }

  private def hasGraftNode(qe: QueryExecution): Boolean = {
    def graft(n: AnyRef) = n.getClass.getName.startsWith("graft.plans.")
    def walk(p: SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => graft(other) || other.children.exists(walk) ||
        other.subqueries.exists(walk)
    }
    qe.optimizedPlan.exists(graft) || walk(qe.executedPlan)
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val phases = qe.tracker.phases
        def ms(p: String) = phases.get(p).map(x => x.endTimeMs - x.startTimeMs).getOrElse(0L)
        val t = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
        at(t).foreach { s =>
          s.analysisMs += ms("analysis")
          s.optimizationMs += ms("optimization")
          s.planningMs += ms("planning")
          if (!s.graftPlan) s.graftPlan = hasGraftNode(qe)
        }
      }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      at(t).foreach { s =>
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        s.batchMs += d("triggerExecution")
        s.addBatchMs += d("addBatch")
        s.walMs += d("walCommit")
        s.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        val rows = p.stateOperators.map(_.numRowsTotal).sum
        s.stateRows(p.runId.toString) = math.max(rows, s.stateRows.getOrElse(p.runId.toString, 0L))
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}
