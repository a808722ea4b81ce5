package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Engine, Registry}
import graft.operators.{JobSpec, MapReduce}

/** What one timed operation hands back: the check of its output, run after
  * the clock stops. `None` means the output is correct. */
trait Op {
  def name: String
  /** True for jobs of the MapReduce dataflow (the `mr.*` layer). */
  def mr: Boolean = false
  def run(spans: Spans): () => Option[String]
}

/** A workload: a fixed list of operations run as whole passes. */
final case class Workload(
    ops: Seq[Op],
    warmPasses: Int,
    /** Nominal seconds per pass: the harness runs
      * `round(seconds / nominalPass)` passes (at least one), a count that
      * does not depend on the box's speed, so every run measures the same
      * amount of work. */
    nominalPass: Double,
    /** Noop-scan probe for `scan.mb_per_s` (traced runs only). */
    scanProbe: () => Double)

object Workloads {
  /** Curation operators of the Dedup (MinHash and SimHash bands, with
    * localCheckpoint rounds), TextOps and Similarity (the cosine-join
    * rewrite, MMR's driver-composed rounds) families, plus a watermarked
    * streaming dedup (state store, WAL, micro-batch triggers) for the
    * stream layer. No op dominates a pass, so one op's run-to-run noise
    * does not dominate `pass_s`. */
  val llmCuration: Seq[String] = Seq("q_dedup_minhash", "q_dedup_simhash_bands",
    "q_tfidf", "q_bm25", "q_cosine_pairs", "q_mmr_rerank", "q_stream_dedup_wm")

  val names: Seq[String] = Seq("mr_wordcount", "llm_curation")

  def apply(name: String, spark: SparkSession, o: Opts): Workload =
    name match {
      case "mr_wordcount" => MrWordCount(spark, o)
      case "llm_curation" => registry(llmCuration, 5.0, spark, o)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other; known: ${names.mkString(", ")}")
    }

  private def registry(queries: Seq[String], nominal: Double,
      spark: SparkSession, o: Opts): Workload = {
    val expected = Digest.expected(o.expectedFile, o.sfName)
    val ops = queries.map(q => new RegistryOp(q, spark, o.dataDir,
      expected.get(q), o.corruptOp.contains(q)))
    Workload(ops, warmPasses = 2, nominal,
      () => Probes.tableScan(spark, o.dataDir))
  }
}

/** A registry query: the DataFrame build (`Q.run`, which may itself fire
  * jobs) and the collect of its result are both timed. */
final class RegistryOp(val name: String, spark: SparkSession, dir: String,
    expected: Option[String], corrupt: Boolean) extends Op {
  def run(spans: Spans): () => Option[String] = {
    val df = spans("build", name)(Registry.byName(name).run(spark, dir))
    val rows = spans("execute", name)(df.collect())
    () => {
      val got = Digest.of(if (corrupt) rows.drop(1) else rows)
      expected match {
        case Some(e) if e == got => None
        case Some(e) => Some(s"digest $got, expected $e")
        case None => Some(s"no expected digest (got $got)")
      }
    }
  }
}

/** Row count plus an order-insensitive hash of a result. Doubles are
  * compared at 9 significant digits, so a last-bit difference in a
  * shuffle-order-dependent float sum does not read as a wrong answer. */
object Digest {
  def of(rows: Array[Row]): String = {
    var h = 0L
    rows.foreach(r => h += hash64(canon(r)))
    f"${rows.length}:$h%016x"
  }

  def hash64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toPlainString

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case d: java.math.BigDecimal => num(d.doubleValue)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case o => o.toString
  }

  /** Expected digests by sf name then query, from the JSON file kept with
    * the benchmark (`{"sf0.01": {"q_join": {"digest": ..., ...}}}`). */
  def expected(file: File, sf: String): Map[String, String] =
    if (!file.isFile) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file)
      Option(root.get(sf)).map(_.fields().asScala
        .map(e => e.getKey -> e.getValue.get("digest").asText).toMap)
        .getOrElse(Map.empty)
    }
}

/** The `mr_wordcount` workload: a seeded Zipf corpus, counted and grepped
  * natively and through shell executables on the same dataflow. */
object MrWordCount {
  val Files8 = 8
  val Vocab = 50000
  val ZipfS = 1.1
  val Tasks = 4

  final case class Corpus(dir: File, counts: Map[String, Long],
      query: String, grepLines: Long, grepHash: Long, bytes: Long)

  def apply(spark: SparkSession, o: Opts): Workload = {
    val root = new File(o.workDir, "mr")
    Io.rmrf(root)
    val corpus = generate(new File(root, "input"), o.seed, o.corpusMb)
    val exec = new File(root, "exec")
    exec.mkdirs()
    def script(name: String, body: String): String = {
      val f = new File(exec, name)
      Files.writeString(f.toPath, "#!/bin/sh\n" + body + "\n")
      f.setExecutable(true)
      f.getPath
    }
    val wcMap = script("wc_map.sh",
      """tr '[ \t]' '\n' | tr '[:upper:]' '[:lower:]' | awk '{print $1"\t1"}'""")
    val wcReduce = script("wc_reduce.sh",
      """cut -f1 | uniq -c | awk '{print $2"\t"$1}'""")
    val grepMap = script("grep_map.sh",
      s"""exec awk '{ s = $$0; sub(/^[ \\t\\r]+/, "", s); sub(/[ \\t\\r]+$$/, "", s);
         |  if (s != "" && index(tolower(s), "${corpus.query}") > 0) print "1\\t" s }'""".stripMargin)
    val grepReduce = script("grep_reduce.sh", """exec awk -F'\t' 'NF == 2 { print $2 }'""")
    val in = corpus.dir.getPath
    def out(op: String) = new File(root, s"out/$op")

    def job(opName: String, native: Option[String])(submit: String => Unit): Op =
      new Op {
        val name = opName
        override val mr = true
        def run(spans: Spans): () => Option[String] = {
          val dir = out(name)
          Io.rmrf(dir)
          spans("execute", name)(submit(dir.getPath))
          () => {
            if (o.corruptOp.contains(name))
              Files.writeString(new File(dir, "part-00000").toPath, "bogus\t1\n",
                java.nio.file.StandardOpenOption.APPEND)
            val own =
              if (name.startsWith("wc")) checkCounts(dir, corpus)
              else checkGrep(dir, corpus)
            own.orElse(native.flatMap(n => sameParts(out(n), dir)))
          }
        }
      }

    val ops = Seq(
      job("wc_native", None)(d =>
        Engine.wordCount(spark, in, d, Tasks, Tasks)),
      job("grep_native", None)(d =>
        Engine.grep(spark, in, d, corpus.query, Tasks, Tasks)),
      job("wc_piped", Some("wc_native"))(d =>
        MapReduce.run(spark, JobSpec(in, d, wcMap, wcReduce, Tasks, Tasks))),
      job("grep_piped", Some("grep_native"))(d =>
        MapReduce.run(spark, JobSpec(in, d, grepMap, grepReduce, Tasks, Tasks))))
    Workload(ops, warmPasses = 2, nominalPass = 3.5,
      () => Probes.textScan(spark, in, corpus.bytes))
  }

  /** Writes `Files8` files of ~corpusMb/8 MB each: lines of 6–16 Zipf(s)
    * words over a `Vocab`-word pseudo-random vocabulary. Records the word
    * counts and the grep answer for a mid-frequency query word. */
  def generate(dir: File, seed: Long, corpusMb: Double): Corpus = {
    val rnd = new java.util.Random(seed)
    val vocab = {
      val seen = new java.util.LinkedHashSet[String]()
      while (seen.size < Vocab) {
        val len = 2 + rnd.nextInt(8)
        seen.add(new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar)))
      }
      seen.asScala.toArray
    }
    val cdf = {
      val w = Array.tabulate(Vocab)(k => math.pow(k + 1, -ZipfS))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    // a word of at least 6 letters near rank 300: a few hundred matching
    // lines per 8 MB, so grep's shuffle stays almost empty
    val query = vocab.drop(300).find(_.length >= 6).get
    val counts = new Array[Long](Vocab)
    var grepLines = 0L
    var grepHash = 0L
    var bytes = 0L
    dir.mkdirs()
    val perFile = (corpusMb * 1024 * 1024 / Files8).toLong
    val sb = new java.lang.StringBuilder
    for (f <- 0 until Files8) {
      val w = Files.newBufferedWriter(new File(dir, f"part$f%02d.txt").toPath, UTF_8)
      var written = 0L
      while (written < perFile) {
        sb.setLength(0)
        val n = 6 + rnd.nextInt(11)
        for (i <- 0 until n) {
          var k = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
          if (k < 0) k = math.min(-k - 1, Vocab - 1)
          counts(k) += 1
          if (i > 0) sb.append(' ')
          sb.append(vocab(k))
        }
        val line = sb.toString
        if (line.contains(query)) {
          grepLines += 1
          grepHash += Digest.hash64(line)
        }
        w.write(line)
        w.write('\n')
        written += line.length + 1
      }
      w.close()
      bytes += written
    }
    val m = vocab.indices.collect { case k if counts(k) > 0 => vocab(k) -> counts(k) }.toMap
    Corpus(dir, m, query, grepLines, grepHash, bytes)
  }

  private def partFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)

  private def lines(dir: File): Iterator[String] =
    partFiles(dir).iterator.flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala)

  def checkCounts(dir: File, c: Corpus): Option[String] = {
    val got = lines(dir).map { l =>
      val i = l.indexOf('\t')
      l.substring(0, i) -> l.substring(i + 1).toLong
    }.toSeq
    if (got.size != c.counts.size)
      Some(s"${got.size} words counted, expected ${c.counts.size}")
    else got.collectFirst {
      case (w, n) if !c.counts.get(w).contains(n) =>
        s"count of '$w' is $n, expected ${c.counts.getOrElse(w, 0L)}"
    }
  }

  def checkGrep(dir: File, c: Corpus): Option[String] = {
    var n = 0L
    var h = 0L
    lines(dir).foreach { l => n += 1; h += Digest.hash64(l) }
    if (n == c.grepLines && h == c.grepHash) None
    else Some(s"grep returned $n lines, expected ${c.grepLines} (or content differs)")
  }

  /** Piped output must equal native output part file for part file (once
    * the native job has run: a seeded pass order may put it second). */
  def sameParts(native: File, piped: File): Option[String] = {
    val (a, b) = (partFiles(native), partFiles(piped))
    if (a.isEmpty) None
    else if (a.map(_.getName) != b.map(_.getName))
      Some(s"piped part files ${b.map(_.getName)} differ from native ${a.map(_.getName)}")
    else a.zip(b).collectFirst {
      case (x, y) if !java.util.Arrays.equals(Files.readAllBytes(x.toPath),
          Files.readAllBytes(y.toPath)) => s"${y.getName} differs from native output"
    }
  }
}

object Io {
  def rmrf(f: File): Unit = {
    if (Files.isDirectory(f.toPath, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, s)
  }
}
