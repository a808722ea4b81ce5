package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Bench, Registry}

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    root: File,
    t0Ms: Long,
    sfName: String,
    corpusMb: Double,
    corruptOp: Option[String],
    record: Boolean) {
  val workDir = new File(root, s".perfbench/work/$workload")
  val dataDir = new File(root, s"perfbench/data/$sfName").getPath
  val expectedFile = new File(root, "perfbench/expected/digests.json")
  val traceDir = new File(root, ".perfbench/trace")
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(kv.getOrElse("root", ".")).getAbsoluteFile,
      kv.get("t0-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      kv.getOrElse("sf", "sf0.01"), kv.get("corpus-mb").map(_.toDouble).getOrElse(8.0),
      kv.get("corrupt-op"), kv.get("record").contains("1"))
  }
}

/** The benchmark harness: a closed loop with one operation in flight over
  * whole passes of a workload on a local[4] session. See perfbench/README.md. */
object Main {
  val Cores = 4
  /** Quiet-box readings of `Bench.sentinel` (s) and `Bench.jobFloor`
    * (s per job) on a 4-core box; a run whose start or end reading exceeds
    * `Contended` times these is flagged as taken on a contended box. */
  val QuietSentinel = 0.4
  val QuietFloor = 0.025
  val Contended = 2.0

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val local = new File(o.root, ".perfbench/spark-local")
    local.mkdirs()
    val spark = Bench.benchSession(Cores.toString, Map(
      "spark.local.dir" -> local.getPath,
      "spark.sql.warehouse.dir" -> new File(o.root, ".perfbench/warehouse").getPath))
    try {
      if (o.record) record(spark, o) else run(spark, o)
    } finally spark.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Process CPU seconds: the JVM plus the exited children it waited for
    * (the piped map/reduce executables). */
  private def cpuSeconds(): Double = {
    val jvm = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    jvm + (f(13).toLong + f(14).toLong) / 100.0
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def run(spark: SparkSession, o: Opts): Unit = {
    val sc = spark.sparkContext
    def phase(what: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - o.t0Ms) / 1000.0}%.1f s: $what")
    phase("session up")
    val wl = Workloads(o.workload, spark, o)
    phase("inputs ready")

    val spans = new Spans(o.trace)
    var tracer: Option[Tracer] = None
    var seq = 0
    var attempted = 0
    val failures = ArrayBuffer[(String, String)]()

    def runOp(op: Op): Double = {
      seq += 1
      val tag = Tracer.TagPrefix + seq
      val stats = tracer.map(_.opened(seq, op.name, op.mr))
      spans.op = seq
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      val outcome =
        try Right(spans("op", op.name)(op.run(spans)))
        catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      sc.removeJobTag(tag)
      for (t <- tracer; s <- stats) t.closed(s)
      attempted += 1
      val err = outcome.fold(e => Some(s"threw $e"),
        check => try check() catch { case e: Throwable => Some(s"check threw $e") })
      err.foreach { m =>
        failures += op.name -> m
        System.err.println(s"[perfbench] ${op.name} FAILED: $m")
      }
      wall
    }

    def pass(p: Int): (Double, Seq[(String, Double)]) = {
      val order = new scala.util.Random(o.seed * 1000003L + p).shuffle(wl.ops)
      val t0 = System.nanoTime()
      val ops = order.map(op => op.name -> runOp(op))
      ((System.nanoTime() - t0) / 1e9, ops)
    }

    val warm = (1 to wl.warmPasses).map(p => pass(-p))
    phase("warm-up done")
    // readings of the box, after warm-up so they do not time first-use
    // codegen; the end pair is taken after the measured passes
    val floorStart = Bench.jobFloor(spark)
    val sentinelStart = Bench.sentinel(spark)
    phase("sentinels read")
    val passes = math.max(1, math.round(o.seconds / wl.nominalPass).toInt)
    // the traced run measures one untraced pass first: its tracing overhead
    // is the traced pass_s over this one
    val untracedPass = if (o.trace) Some(pass(0)._1) else None
    if (o.trace) tracer = Some(new Tracer(spark))
    tracer.foreach(_.install())
    val firstMeasured = seq + 1
    val setupS = (System.currentTimeMillis() - o.t0Ms) / 1000.0
    val cpu0 = cpuSeconds()
    val measured = (1 to passes).map(pass)
    val cpuPerPass = (cpuSeconds() - cpu0) / passes
    val lastMeasured = seq

    val layer = tracer.map { tr =>
      val scanMbS = wl.scanProbe()
      val kernels = Probes.kernels(spark, tr)
      tr.uninstall()
      val ops = tr.all.filter(s => s.seq >= firstMeasured && s.seq <= lastMeasured)
      val m = Layers.metrics(ops, spans, passes, measured.map(_._1), floorStart,
        scanMbS, kernels, untracedPass.get)
      writeTrace(o, ops, spans, m)
      m
    }
    val floorEnd = Bench.jobFloor(spark)
    val sentinelEnd = Bench.sentinel(spark)
    val contended = Seq(sentinelStart, sentinelEnd).exists(_ > QuietSentinel * Contended) ||
      Seq(floorStart, floorEnd).exists(_ > QuietFloor * Contended)

    val opTimes = measured.flatMap(_._2.map(_._2)).sorted
    val n = opTimes.size
    // op_s.tail: the highest percentile with at least ten samples beyond
    // it; below 20 samples that would fall under the median, so p90
    // (linearly interpolated) stands in
    val (tail, tailPct) =
      if (n >= 20) (opTimes(n - 11), 100.0 * (n - 10) / n)
      else {
        val r = 0.9 * (n - 1)
        val i = r.toInt
        (opTimes(i) + (r - i) * (opTimes(math.min(i + 1, n - 1)) - opTimes(i)), 90.0)
      }
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", median(measured.map(_._1)), "s"),
      ("op_s.p50", median(opTimes), "s"),
      ("op_s.tail", tail, "s"),
      ("cpu_s_per_pass", cpuPerPass, "s"),
      ("peak_rss_mb", peakRssMb(), "MB"))

    println(Json.obj(Seq("info" -> Json.obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed, "sf" -> o.sfName,
      "passes" -> passes, "pass_s" -> measured.map(_._1),
      "op_s_samples" -> n, "op_s.tail_percentile" -> tailPct,
      "op_s_by_name" -> Json.obj(measured.flatMap(_._2).groupMap(_._1)(_._2)
        .map { case (k, v) => k -> median(v) }.toSeq.sortBy(_._1)),
      "warm_op_s" -> warm.map(w => Json.obj(w._2.sortBy(_._1))),
      "fail_frac" -> failures.size.toDouble / attempted,
      "failures" -> failures.map { case (a, b) => s"$a: $b" },
      "sentinel_s" -> Seq(sentinelStart, sentinelEnd),
      "job_floor_s" -> Seq(floorStart, floorEnd),
      "contended" -> contended)))))
    if (contended)
      System.err.println("[perfbench] sentinel/job-floor readings say the box was contended")
    val metrics = layer.getOrElse(endToEnd)
    println(Json.obj(Seq(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> v, "unit" -> u)) }))))
  }

  /** Spans (op → build/execute → Spark job) with self time per layer. */
  private def writeTrace(o: Opts, ops: Seq[OpStats], spans: Spans,
      m: Seq[(String, Double, String)]): Unit = {
    val byOp = ops.map(s => s.seq -> s).toMap
    val own = spans.done.filter(s => byOp.contains(s.op))
    val jobs = ops.flatMap(s => s.jobSpans.map { case (id, a, b) =>
      val parent = own.filter(x => x.op == s.seq && x.start <= a && a <= x.end)
        .sortBy(x => x.end - x.start).headOption.map(_.id).getOrElse(-1)
      (id, s.seq, parent, a, b)
    })
    val children = (own.map(x => x.parent -> (x.start, x.end)) ++
      jobs.map(j => j._3 -> (j._4, j._5))).groupMap(_._1)(_._2)
    val self = ArrayBuffer[(String, Double)]()
    own.foreach { x =>
      val covered = Layers.union(children.getOrElse(x.id, Nil)
        .map { case (a, b) => (math.max(a, x.start), math.min(b, x.end)) })
      self += x.kind -> (x.end - x.start - covered) / 1000.0
    }
    jobs.foreach(j => self += "job" -> (j._5 - j._4) / 1000.0)
    val selfByKind = self.groupMapReduce(_._1)(_._2)(_ + _)
    val json = Json.obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed,
      "self_time_s" -> Json.obj(selfByKind.toSeq.sortBy(_._1)),
      "layer_metrics" -> Json.obj(m.map(x => x._1 -> x._2)),
      "ops" -> ops.map(s => Json.obj(Seq("seq" -> s.seq, "name" -> s.name,
        "wall_s" -> (s.end - s.start) / 1000.0, "jobs" -> s.jobs,
        "stages" -> s.stages, "tasks" -> s.tasks, "graft_plan" -> s.graftPlan))),
      "spans" -> (own.map(x => Json.obj(Seq("id" -> x.id, "kind" -> x.kind,
        "name" -> x.name, "parent" -> x.parent, "op" -> x.op,
        "start_ms" -> x.start, "end_ms" -> x.end))) ++
        jobs.map(j => Json.obj(Seq("id" -> s"job-${j._1}", "kind" -> "job",
          "name" -> s"job ${j._1}", "parent" -> j._3, "op" -> j._2,
          "start_ms" -> j._4, "end_ms" -> j._5))))))
    Io.write(new File(o.traceDir, s"${o.workload}-seed${o.seed}.json").toPath, json + "\n")
  }

  /** Runs each registry operation of the workload once and stores its
    * digest for the run's sf in the expected-digest file. */
  def record(spark: SparkSession, o: Opts): Unit = {
    val queries = o.workload match {
      case "llm_curation" => Workloads.llmCuration
      case other => throw new IllegalArgumentException(s"$other has no digests")
    }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root =
      if (o.expectedFile.isFile) om.readTree(o.expectedFile)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else om.createObjectNode()
    val sf = Option(root.get(o.sfName)).getOrElse(root.putObject(o.sfName))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    queries.foreach { q =>
      val d = Digest.of(Registry.byName(q).run(spark, o.dataDir).collect())
      val entry = Option(sf.get(q)).getOrElse(sf.putObject(q))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      entry.put("digest", d)
      println(s"$q $d")
    }
    om.writerWithDefaultPrettyPrinter().writeValue(o.expectedFile, root)
  }
}

/** Per-layer metrics of the traced passes. */
object Layers {
  /** Total length of the union of [a, b] intervals. */
  def union(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.filter(x => x._2 > x._1).toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }

  def metrics(ops: Seq[OpStats], spans: Spans, passes: Int, passWalls: Seq[Double],
      jobFloor: Double, scanMbS: Double, kernels: Map[String, Double],
      untracedPass: Double): Seq[(String, Double, String)] = {
    val P = passes.toDouble
    def per(f: OpStats => Double) = ops.map(f).sum / P
    val MB = 1048576.0
    val inOps = ops.map(_.seq).toSet
    val builds = spans.done.filter(s => s.kind == "build" && inOps(s.op))
    val buildJobs = builds.map(b => ops.find(_.seq == b.op).get.jobSpans
      .count { case (_, a, _) => a >= b.start && a <= b.end }).sum
    val gaps = ops.map(s => (s.end - s.start) - union(s.jobSpans.map { case (_, a, b) =>
      (math.max(a, s.start), math.min(b, s.end)) }))
    val opWall = ops.map(s => (s.end - s.start) / 1000.0).sum
    val mrOps = ops.filter(_.mr)
    val batches = ops.flatMap(_.batchMs).map(_ / 1000.0)
    val tracedPass = passWalls.sorted.apply(passWalls.size / 2)
    Seq(
      ("registry.build_s", builds.map(b => b.end - b.start).sum / 1000.0 / P, "s"),
      ("registry.build_jobs", buildJobs / P, "count"),
      ("plan.analysis_s", per(_.analysisMs / 1000.0), "s"),
      ("plan.optimization_s", per(_.optimizationMs / 1000.0), "s"),
      ("plan.planning_s", per(_.planningMs / 1000.0), "s"),
      ("plan.graft_rewrites", per(s => if (s.graftPlan) 1.0 else 0.0), "count"),
      ("sched.jobs", per(_.jobs.toDouble), "count"),
      ("sched.stages", per(_.stages.toDouble), "count"),
      ("sched.tasks", per(_.tasks.toDouble), "count"),
      ("sched.gap_s", gaps.sum / 1000.0 / P, "s"),
      ("sched.job_floor_s", jobFloor, "s"),
      ("exec.task_run_s", per(_.runMs / 1000.0), "s"),
      ("exec.task_cpu_s", per(_.cpuNs / 1e9), "s"),
      ("exec.gc_s", per(_.gcMs / 1000.0), "s"),
      ("exec.slot_util", ops.map(_.runMs / 1000.0).sum / (opWall * Main.Cores), "ratio"),
      ("exec.tasks_retried", per(_.retried.toDouble), "count"),
      ("scan.input_mb", per(_.inBytes / MB), "MB"),
      ("scan.input_rows", per(_.inRecords.toDouble), "count"),
      ("scan.mb_per_s", scanMbS, "MB/s"),
      ("shuffle.write_mb", per(_.shWriteBytes / MB), "MB"),
      ("shuffle.read_mb", per(_.shReadBytes / MB), "MB"),
      ("shuffle.records", per(_.shRecords.toDouble), "count"),
      ("shuffle.write_s", per(_.shWriteNs / 1e9), "s"),
      ("shuffle.fetch_wait_s", per(_.fetchWaitMs / 1000.0), "s"),
      ("shuffle.skew", ops.map(_.skew).maxOption.getOrElse(0.0), "ratio"),
      ("mem.spill_mb", per(_.spillBytes / MB), "MB"),
      ("mem.peak_exec_mb", ops.map(_.peakExec / MB).maxOption.getOrElse(0.0), "MB"),
      ("mr.map_s", mrOps.map(_.mapStageMs / 1000.0).sum / P, "s"),
      ("mr.reduce_s", mrOps.map(_.resultStageMs / 1000.0).sum / P, "s"),
      ("mr.map_records_out", mrOps.map(_.mapRecordsOut.toDouble).sum / P, "count"),
      ("mr.output_mb", mrOps.map(_.outBytes / MB).sum / P, "MB")) ++
    Seq("cosine_sim", "dot_product", "simhash32", "vec_centroid", "md5_mod",
      "unsigned_bytes_cmp").map(k =>
      (s"kernel.$k.rows_per_s_core", kernels.getOrElse(k, 0.0), "rows/s")) ++
    Seq(
      ("stream.batches", batches.size / P, "count"),
      ("stream.batch_s.p50", if (batches.isEmpty) 0.0 else batches.sorted.apply(batches.size / 2), "s"),
      ("stream.trigger_s", batches.sum / P, "s"),
      ("stream.add_batch_s", per(_.addBatchMs / 1000.0), "s"),
      ("stream.wal_s", per(_.walMs / 1000.0), "s"),
      ("stream.state_rows", per(_.stateRows.values.sum.toDouble), "count"),
      ("stream.state_commit_s", per(_.stateCommitMs / 1000.0), "s"),
      ("trace.overhead", tracedPass / untracedPass, "ratio"))
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }
  def obj(kv: Iterable[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + render(v) }.mkString("{", ",", "}"))
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
