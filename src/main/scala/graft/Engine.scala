package graft

import scala.collection.AbstractIterator

import org.apache.spark.Aggregator
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.SparkSession

import graft.operators.{JobSpec, MapReduce}
import graft.plans.{Md5LinePartitioner, Utf8TabKeyOrdering}

/** User-facing job surface, mirroring the reference's submit CLI
  * (reference mapreduce/submit.py:59-98): a [[JobSpec]] in, part files out.
  * The Manager/Worker control plane (queueing, scheduling, heartbeats,
  * retry — reference manager/__main__.py) is Spark's driver/executor
  * machinery and needs no code here (SURVEY.md §2.2).
  */
object Engine {

  /** Submit a streaming-executable job (the reference's only job type). */
  def submit(spark: SparkSession, job: JobSpec): String =
    MapReduce.run(spark, job)

  /** Native word count — the reference's flagship job
    * (tests/testdata/exec/wc_map.sh + wc_reduce.sh) as tokenize +
    * group-by-count, with part files byte-identical to the executables'.
    * Faithful to their edge cases: every separator emits a token, so
    * consecutive separators and blank lines produce EMPTY tokens, which are
    * real keys (`awk '{print $1"\t1"}'` on an empty line prints `\t1`) —
    * and `tr '[ \t]' '\n'` treats the brackets as LITERAL characters, so
    * `[` and `]` are separators too.
    */
  def wordCount(spark: SparkSession, in: String, out: String,
      numMappers: Int = 2, numReducers: Int = 2): String = {
    countWords(spark.sparkContext.textFile(in, math.max(numMappers, 1)),
      numReducers).saveAsTextFile(out)
    out
  }

  /** Word count from input lines to `word\tcount` output lines, without
    * the sink — package-visible so fault-injection tests (RetryMain) can
    * fail its map and reduce stages. Counts combine map-side, so the
    * shuffle carries one record per distinct word per map task. The
    * partitioner hashes the word as the executable job's does its
    * `word\t1` line (a word holds no tab), and the ordering sorts words as
    * that job sorts the lines, so part files and their line order match.
    */
  private[graft] def countWords(lines: RDD[String],
      numReducers: Int): RDD[String] = {
    val pairs = lines.flatMap(tokens)
    new ShuffledRDD[String, Long, Long](pairs, new Md5LinePartitioner(numReducers))
      .setAggregator(new Aggregator[String, Long, Long](n => n, _ + _, _ + _))
      .setMapSideCombine(true)
      .setKeyOrdering(Utf8TabKeyOrdering)
      .map { case (w, n) => s"$w\t$n" }
  }

  /** `tr '[ \t]' '\n' | tr '[:upper:]' '[:lower:]'`, one `(word, 1)` per
    * piece between separators. The C locale lower-cases ONLY A-Z; JVM
    * toLowerCase is locale- and Unicode-sensitive (Turkish dotless-i,
    * É→é) and would diverge from the executable on such input. */
  private def tokens(line: String): Iterator[(String, Long)] = {
    val cs = line.toCharArray
    var i = 0
    while (i < cs.length) {
      val c = cs(i)
      if (c >= 'A' && c <= 'Z') cs(i) = (c + 32).toChar
      i += 1
    }
    new AbstractIterator[(String, Long)] {
      private var start = 0
      def hasNext: Boolean = start <= cs.length
      def next(): (String, Long) = {
        var end = start
        while (end < cs.length && !isSeparator(cs(end))) end += 1
        val w = new String(cs, start, end - start)
        start = end + 1
        (w, 1L)
      }
    }
  }

  private def isSeparator(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '[' || c == ']'

  /** Native grep — the reference's second shipped job
    * (tests/testdata/exec/grep_map.py:13-28 + grep_reduce.py:14-27):
    * case-insensitive substring filter, blank lines skipped, reducer
    * projects the value and drops lines without exactly one tab.
    */
  def grep(spark: SparkSession, in: String, out: String,
      query: String = "product",
      numMappers: Int = 2, numReducers: Int = 2): String =
    MapReduce.runNative(
      spark,
      JobSpec(in, out, "<native-grep-map>", "<native-grep-reduce>",
        numMappers, numReducers),
      mapper = { line =>
        val s = line.trim
        // Python str.lower() semantics ≈ Locale.ROOT (never the default
        // locale, which breaks on e.g. Turkish dotted-I JVMs)
        if (s.nonEmpty &&
          s.toLowerCase(java.util.Locale.ROOT).contains(query)) Some("1\t" + s)
        else None
      },
      reducer = _.flatMap { l =>
        val sep = l.trim.split("\t", -1)
        if (sep.length == 2) Some(sep(1)) else None
      })
}

/** `spark-submit`-able entry point replacing the reference's
  * `mapreduce-submit` CLI; flags and defaults mirror
  * reference mapreduce/submit.py:25-58. A `status` subcommand covers the
  * `bin/mapreduce status` lifecycle check (reference bin/mapreduce:49-60);
  * start/stop/restart need no counterpart — the session's own lifecycle
  * (getOrCreate/stop) IS the manager+worker lifecycle here. */
object Cli {

  /** `bin/mapreduce status` parity: the reference pgreps the
    * manager/worker processes and exits 0 only when both are up. The
    * Spark control plane has two observable homes, checked in order:
    * the session registry of THIS JVM (library embedding — a live
    * SparkContext is the manager, its task slots the workers), then the
    * app's monitoring REST API on the default UI ports ([[probeUi]]) —
    * the documented way to observe a running Spark app from OUTSIDE its
    * JVM, which is where a `spark-submit Cli status` invocation lives
    * relative to a running job. `ports` widens the probe beyond the
    * default UI walk for apps submitted with an explicit
    * `spark.ui.port` (`status --port N` on the command line) — without
    * it such an app is invisible to the cross-process arm, the same
    * failure class as the reference's `pgrep -f` missing a renamed
    * process. Returns (report lines, exit code) so CliSpec asserts both
    * without forking a JVM. */
  private[graft] def status(
      ports: Range = defaultUiPorts): (Seq[String], Int) = {
    // filter EACH candidate before orElse: a stale stopped thread-local
    // active session must not mask a live default session
    val live = (s: SparkSession) => !s.sparkContext.isStopped
    SparkSession.getActiveSession.filter(live)
      .orElse(SparkSession.getDefaultSession.filter(live)) match {
      case Some(s) =>
        val sc = s.sparkContext
        (Seq(
          s"manager: app ${sc.applicationId} on ${sc.master}",
          s"workers: ${sc.defaultParallelism} task slots"), 0)
      case None => probeUi(ports) match {
        case Some((app, cores)) =>
          (Seq(s"manager: app $app",
            s"workers: $cores task slots"), 0)
        case None =>
          (Seq("manager: not running", "workers: not running"), 1)
      }
    }
  }

  /** SparkUI binds 4040 and walks upward on conflict (5 retries by
    * default) — the range a portless `status` scans. */
  private[graft] val defaultUiPorts: Range = 4040 to 4044

  /** `status --port N` → probe exactly N; no flag → the default UI
    * walk. Factored out so CliSpec pins the parse (including the
    * missing-value and non-numeric diagnostics) without forking. */
  private[graft] def parseStatusPorts(args: Seq[String]): Range =
    args match {
      case Seq() => defaultUiPorts
      case Seq("--port", v) =>
        val p = number("--port", v)
        p to p
      case Seq("--port") => sys.error("missing value for --port")
      case other => sys.error(s"unknown argument: ${other.mkString(" ")}")
    }

  /** A numeric flag's value, or the "`flag` expects a number" diagnostic
    * (click's `type=int` rejection in the reference CLI). */
  private def number(flag: String, v: String): Int =
    try v.toInt catch {
      case _: NumberFormatException =>
        sys.error(s"$flag expects a number, got: $v")
    }

  /** Cross-process arm of [[status]]: scan the default Spark UI port
    * range (SparkUI binds 4040 and walks upward on conflict, 5 retries
    * by default) for a live app via the standard monitoring REST API,
    * returning its id and total active cores. A fresh `spark-submit`
    * JVM has an empty session registry, so without this arm `status`
    * could never see a job running in another process — the exact check
    * the reference's pgrep performs. Sub-second timeouts keep the
    * nothing-running path fast; any I/O failure on a port just means
    * "no app there". */
  private[graft] def probeUi(
      ports: Range = defaultUiPorts): Option[(String, Int)] =
    ports.iterator.flatMap { p =>
      for {
        apps <- httpJson(s"http://localhost:$p/api/v1/applications")
        id <- Option(apps.path(0).path("id").asText(null))
        execs <- httpJson(
          s"http://localhost:$p/api/v1/applications/$id/executors")
      } yield (s"$id (REST :$p)", activeCores(execs))
    }.nextOption()

  /** Sum of totalCores over active executors in a `/executors` REST
    * payload; factored out so CliSpec pins the parse against a canned
    * response without a live UI. */
  private[graft] def activeCores(
      execs: com.fasterxml.jackson.databind.JsonNode): Int =
    (0 until execs.size).map(execs.get)
      .filter(_.path("isActive").asBoolean(true))
      .map(_.path("totalCores").asInt(0)).sum

  private def httpJson(
      url: String): Option[com.fasterxml.jackson.databind.JsonNode] =
    try {
      val c = new java.net.URL(url).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      c.setConnectTimeout(300)
      c.setReadTimeout(500)
      try {
        if (c.getResponseCode != 200) None
        else {
          val body = scala.io.Source
            .fromInputStream(c.getInputStream, "UTF-8").mkString
          Some(new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(body))
        }
      } finally c.disconnect()
    } catch { case _: java.io.IOException => None }

  /** Flag parsing, factored out for unit testing. Diagnostics distinguish
    * an UNKNOWN flag from a known flag MISSING ITS VALUE (a trailing
    * odd-length window) — the latter used to fall through to the
    * catch-all and report "unknown argument: --output". A non-numeric
    * `--nmappers`/`--nreducers` and a reducer count below 1 fail here,
    * before any session starts; a mapper count below 1 is clamped to 1
    * by [[Engine]]. */
  private[graft] def parse(args: Array[String]): JobSpec = {
    var in = "tests/testdata/input"
    var out = "output"
    var mapper = "tests/testdata/exec/wc_map.sh"
    var reducer = "tests/testdata/exec/wc_reduce.sh"
    var m = 2
    var r = 2
    val known = Set("--input", "--output", "--mapper", "--reducer",
      "--nmappers", "--nreducers")
    args.sliding(2, 2).foreach {
      case Array("--input", v)     => in = v
      case Array("--output", v)    => out = v
      case Array("--mapper", v)    => mapper = v
      case Array("--reducer", v)   => reducer = v
      case Array("--nmappers", v)  => m = number("--nmappers", v)
      case Array("--nreducers", v) =>
        r = number("--nreducers", v)
        if (r < 1) sys.error(s"--nreducers must be at least 1, got: $v")
      case Array(flag) if known(flag) =>
        sys.error(s"missing value for $flag")
      case other =>
        sys.error(s"unknown argument: ${other.mkString(" ")}")
    }
    JobSpec(in, out, mapper, reducer, m, r)
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("status") =>
      val (lines, code) = status(parseStatusPorts(args.drop(1).toSeq))
      lines.foreach(println)
      if (code != 0) sys.exit(code)
    case _ =>
      // bare flags stay the submit path (mapreduce-submit compat); an
      // explicit leading `submit` is accepted for bin/mapreduce symmetry
      val rest = if (args.headOption.contains("submit")) args.drop(1) else args
      val job = parse(rest)
      val spark = SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .appName("graft-mapreduce")
        .getOrCreate()
      try Engine.submit(spark, job)
      finally spark.stop()
  }
}
