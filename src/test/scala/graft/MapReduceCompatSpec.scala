package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{JobSpec, MapReduce}

/** Golden-output tests against the reference's own fixtures and compare
  * rules:
  *  - grep: byte-exact part-00000 vs tests/testdata/correct/grep_correct.txt
  *    (rule: reference tests/test_integration_01.py:81-85)
  *  - word count: sorted-line multiset vs word_count_correct.txt
  *    (rule: reference tests/test_integration_02.py:83-87)
  *  - multi-reducer: part-file count == num_reducers, merged content
  *    matches (rule: reference tests/test_integration_03.py:85-98)
  *
  * The golden tests read the input text, executables and goldens under
  * `/root/reference/tests/testdata`; where that directory is absent they
  * cancel (see [[requireFixtures]]) and run unchanged wherever it exists.
  * The fixture-free tests run everywhere and cover the same properties on
  * inputs written in-test: the hostile-input native / line-at-a-time /
  * piped parity test, "task retry: first-attempt {map,reduce} failures
  * still yield the exact counts", "blank lines …", "empty input …" and
  * "round-robin …".
  */
class MapReduceCompatSpec extends AnyFunSuite {

  private val ref = "/root/reference/tests/testdata"
  private def spark = TestSpark.spark

  private def tmpOut(): String = {
    val d = Files.createTempDirectory("graft-mr").resolve("out")
    d.toString
  }

  private def readLines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq

  private def partFiles(dir: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString)

  private lazy val (wcMap, wcReduce) = WcScripts.write()

  /** Cancels the calling test where the reference fixtures are absent. */
  private def requireFixtures(): Unit =
    assume(Files.isDirectory(Paths.get(ref)), s"$ref is not on this machine")

  /** Word count as a line-at-a-time native job, the oracle for
    * [[Engine.wordCount]]'s combined path: one `word\t1` line per token
    * through the whole-line shuffle, then a counting pass over each sorted
    * partition — the executables' dataflow with Scala stages. */
  private def lineAtATimeWordCount(in: String, out: String, r: Int): Unit =
    MapReduce.runNative(spark,
      JobSpec(in, out, "<wc-map>", "<wc-reduce>", numMappers = 2, numReducers = r),
      mapper = line => line.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
        .split("[\\[ \t\\]]", -1).toSeq.map(_ + "\t1"),
      reducer = lines => new Iterator[String] {
        private val it = lines.buffered
        private def keyOf(l: String) = l.substring(0, l.indexOf('\t'))
        def hasNext: Boolean = it.hasNext
        def next(): String = {
          val key = keyOf(it.head)
          var n = 0L
          while (it.hasNext && keyOf(it.head) == key) { it.next(); n += 1 }
          s"$key\t$n"
        }
      })

  /** Asserts two job outputs hold the same part files, byte for byte. */
  private def assertSameParts(got: String, want: String, clue: String): Unit = {
    val (pg, pw) = (partFiles(got), partFiles(want))
    assert(pg.map(_.getFileName) == pw.map(_.getFileName), clue)
    pg.zip(pw).foreach { case (g, w) =>
      assert(Files.readAllBytes(g).sameElements(Files.readAllBytes(w)),
        s"$clue: ${g.getFileName} differs")
    }
  }

  /** `word\tcount` lines of a job output as a map; a word twice fails. */
  private def countsOf(out: String): Map[String, Long] = {
    val lines = partFiles(out).flatMap(readLines)
    val counts = lines.map { l =>
      val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1).toLong)
    }.toMap
    assert(counts.size == lines.size, "a word appears on two lines")
    counts
  }

  test("grep job via external executables is byte-identical to the golden") {
    requireFixtures()
    val out = tmpOut()
    MapReduce.run(spark, JobSpec(
      s"$ref/input", out,
      s"$ref/exec/grep_map.py", s"$ref/exec/grep_reduce.py",
      numMappers = 2, numReducers = 1))
    val got = Files.readAllBytes(Paths.get(out, "part-00000"))
    val want = Files.readAllBytes(Paths.get(s"$ref/correct/grep_correct.txt"))
    assert(got.sameElements(want))
  }

  test("word count via external executables matches the golden multiset") {
    requireFixtures()
    val out = tmpOut()
    MapReduce.run(spark, JobSpec(
      s"$ref/input", out,
      s"$ref/exec/wc_map.sh", s"$ref/exec/wc_reduce.sh",
      numMappers = 2, numReducers = 1))
    val got = readLines(Paths.get(out, "part-00000")).sorted
    val want = readLines(Paths.get(s"$ref/correct/word_count_correct.txt")).sorted
    assert(got == want)
  }

  test("multi-reducer word count: file count and merged content") {
    requireFixtures()
    val out = tmpOut()
    MapReduce.run(spark, JobSpec(
      s"$ref/input", out,
      s"$ref/exec/wc_map.sh", s"$ref/exec/wc_reduce.sh",
      numMappers = 2, numReducers = 2))
    val parts = partFiles(out)
    assert(parts.map(_.getFileName.toString) == Seq("part-00000", "part-00001"))
    val got = parts.flatMap(readLines).sorted
    val want = readLines(Paths.get(s"$ref/correct/word_count_correct.txt")).sorted
    assert(got == want)
  }

  test("native word count matches the golden multiset") {
    requireFixtures()
    val out = tmpOut()
    Engine.wordCount(spark, s"$ref/input", out, numReducers = 1)
    val got = readLines(Paths.get(out, "part-00000")).sorted
    val want = readLines(Paths.get(s"$ref/correct/word_count_correct.txt")).sorted
    assert(got == want)
  }

  test("native grep is byte-identical to the golden") {
    requireFixtures()
    val out = tmpOut()
    Engine.grep(spark, s"$ref/input", out, numReducers = 1)
    val got = Files.readAllBytes(Paths.get(out, "part-00000"))
    val want = Files.readAllBytes(Paths.get(s"$ref/correct/grep_correct.txt"))
    assert(got.sameElements(want))
  }

  test("empty input directory still writes num_reducers empty part files") {
    val inDir = Files.createTempDirectory("graft-mr-empty")
    val out = tmpOut()
    MapReduce.run(spark, JobSpec(
      inDir.toString, out, wcMap, wcReduce,
      numMappers = 2, numReducers = 2))
    val parts = partFiles(out)
    assert(parts.map(_.getFileName.toString) == Seq("part-00000", "part-00001"))
    assert(parts.forall(p => Files.size(p) == 0))
  }

  test("blank lines produce empty-key records that group correctly") {
    // reference tests/test_worker_04.py:109-115: blank input lines map to
    // "\t1" records; the empty string is a real key and groups like any
    // other (MD5 of "" decides its partition)
    val inDir = Files.createTempDirectory("graft-mr-blank")
    Files.writeString(inDir.resolve("f1"), "a b\n\na\n\n\nb\n")
    val out = tmpOut()
    Engine.wordCount(spark, inDir.toString, out, numReducers = 2)
    assert(countsOf(out) == Map("a" -> 2L, "b" -> 2L, "" -> 3L))
    // the empty key lands on the partition md5("") % 2 selects — all of
    // its records together (grouping totality)
    val emptyKeyPart = graft.plans.Md5.mod("", 2)
    val partWithEmpty = partFiles(out).zipWithIndex.collect {
      case (p, i) if readLines(p).exists(_.startsWith("\t")) => i
    }
    assert(partWithEmpty == Seq(emptyKeyPart))
  }

  test("round-robin split matches the reference grouping at m=2") {
    // reference tests/test_manager_02.py:139-159: task 0 gets files
    // 01,03,05,07 and task 1 gets 02,04,06,08. Both calls read file
    // names only, so empty files under the reference's names stand in for
    // tests/testdata/input.
    val inDir = Files.createTempDirectory("graft-mr-rr")
    (8 to 1 by -1).foreach(i => Files.createFile(inDir.resolve(f"file$i%02d")))
    val files = MapReduce.listInputs(spark, inDir.toString)
    assert(files.map(_.split('/').last) ==
      (1 to 8).map(i => f"file$i%02d"))
    val groups = MapReduce.splitRoundRobin(files, 2)
      .map(_.map(_.split('/').last))
    assert(groups == Seq(
      Seq("file01", "file03", "file05", "file07"),
      Seq("file02", "file04", "file06", "file08")))
  }

  test("task retry: first-attempt map failures still yield the exact golden") {
    requireFixtures()
    // Reference behavior: a dead worker's task is reassigned and the output
    // is still correct (manager/__main__.py:304-333, asserted by reference
    // tests/test_manager_05.py:168-235). Spark analog: task retry. Forked
    // JVM because retry needs local[2,2] (maxFailures=2) — in the shared
    // plain-local session any task failure is fatal.
    val out = tmpOut()
    assert(ForkedJvm.run("graft.RetryMain", "2g",
      Seq(s"$ref/input", out, "map")) == 0)
    val parts = partFiles(out)
    assert(parts.map(_.getFileName.toString) == Seq("part-00000", "part-00001"))
    val got = parts.flatMap(readLines).sorted
    val want = readLines(Paths.get(s"$ref/correct/word_count_correct.txt")).sorted
    assert(got == want)
  }

  test("task retry: first-attempt reduce failures write no partial output") {
    requireFixtures()
    // the retried reduce attempt must re-read the complete sorted shuffle
    // partition, and the committer must discard the failed attempt's file —
    // exactly num_reducers part files, content equal to the golden multiset
    val out = tmpOut()
    assert(ForkedJvm.run("graft.RetryMain", "2g",
      Seq(s"$ref/input", out, "reduce")) == 0)
    val parts = partFiles(out)
    assert(parts.map(_.getFileName.toString) == Seq("part-00000", "part-00001"))
    val got = parts.flatMap(readLines).sorted
    val want = readLines(Paths.get(s"$ref/correct/word_count_correct.txt")).sorted
    assert(got == want)
  }

  test("two jobs submitted back-to-back serialize correctly (C3 queue)") {
    requireFixtures()
    // reference manager queues jobs FIFO and runs one at a time
    // (manager/__main__.py:125-139,175-189); the Spark analog is the
    // driver's job queue — two sequential submits through the same session
    // must each produce their own correct, isolated output
    val out1 = tmpOut()
    val out2 = tmpOut()
    Engine.submit(spark, JobSpec(s"$ref/input", out1,
      s"$ref/exec/wc_map.sh", s"$ref/exec/wc_reduce.sh", 2, 1))
    Engine.submit(spark, JobSpec(s"$ref/input", out2,
      s"$ref/exec/grep_map.py", s"$ref/exec/grep_reduce.py", 2, 1))
    val wantWc = readLines(Paths.get(s"$ref/correct/word_count_correct.txt")).sorted
    assert(readLines(Paths.get(out1, "part-00000")).sorted == wantWc)
    val gotGrep = Files.readAllBytes(Paths.get(out2, "part-00000"))
    val wantGrep = Files.readAllBytes(Paths.get(s"$ref/correct/grep_correct.txt"))
    assert(gotGrep.sameElements(wantGrep))
  }

  test("two jobs submitted concurrently stay isolated (C3 admission)") {
    requireFixtures()
    // the reference admits concurrent submissions into its queue without
    // cross-corruption; Spark's scheduler interleaves the two jobs' stages
    // but each job's scratch (_temporary attempt dirs under its own output
    // directory) and sink are per-job — both outputs must be exact
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val out1 = tmpOut()
    val out2 = tmpOut()
    val f1 = Future(Engine.submit(spark, JobSpec(s"$ref/input", out1,
      s"$ref/exec/wc_map.sh", s"$ref/exec/wc_reduce.sh", 2, 1)))
    val f2 = Future(Engine.submit(spark, JobSpec(s"$ref/input", out2,
      s"$ref/exec/grep_map.py", s"$ref/exec/grep_reduce.py", 2, 1)))
    Await.result(f1, 120.seconds)
    Await.result(f2, 120.seconds)
    val wantWc = readLines(Paths.get(s"$ref/correct/word_count_correct.txt")).sorted
    assert(readLines(Paths.get(out1, "part-00000")).sorted == wantWc)
    val gotGrep = Files.readAllBytes(Paths.get(out2, "part-00000"))
    val wantGrep = Files.readAllBytes(Paths.get(s"$ref/correct/grep_correct.txt"))
    assert(gotGrep.sameElements(wantGrep))
  }

  test("FIFO admission: a queued job waits for the running job (forked)") {
    // the delegated C3 ordering pinned observably: in a 1-slot forked JVM
    // (the shared session has 32 slots — both jobs would just run), the
    // second of two concurrent submissions starts only after the first
    // completes. See FifoMain for the timing contract.
    val code = ForkedJvm.run("graft.FifoMain", "1g", Seq.empty)
    assert(code == 0, s"forked FIFO run exited $code")
  }

  test("status sees a job in another process via the REST probe (forked)") {
    // bin/mapreduce status parity across process boundaries: the forked
    // JVM hosts the UI-enabled sessions of the test run and probes them
    // over real loopback HTTP — up ⇒ app id + task slots, stopped ⇒
    // nothing; plus the --port scenario (UI on 4099: default walk blind,
    // explicit port sighted). See StatusMain for the exact assertions.
    val code = ForkedJvm.run("graft.StatusMain", "1g", Seq.empty)
    assert(code == 0, s"forked status probe exited $code")
  }

  test("pipePerFile spawns the mapper exactly once per input file") {
    // reference worker/__main__.py:94-101: one Popen per input FILE. A
    // mapper with per-invocation state (here: a header record per run)
    // observes the difference — default per-partition piping splits a
    // large file across several processes, per-file mode never does.
    val inDir = Files.createTempDirectory("graft-mr-perfile")
    Files.writeString(inDir.resolve("file01"), "alpha\n")
    Files.writeString(inDir.resolve("file02"), "beta\ngamma\n")
    // large enough that textFile's goalSize splits it into >=2 blocks
    val bigLines = (1 to 4000).map(i => f"line$i%06d")
    Files.writeString(inDir.resolve("file03"), bigLines.mkString("", "\n", "\n"))
    val mapper = inDir.resolve("header_map.sh")
    Files.writeString(mapper, "#!/bin/sh\nprintf 'HEADER\\t1\\n'\ncat\n")
    val reducer = inDir.resolve("identity_reduce.sh")
    Files.writeString(reducer, "#!/bin/sh\ncat\n")
    import java.nio.file.attribute.PosixFilePermissions
    Seq(mapper, reducer).foreach(p =>
      Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("rwxr-xr-x")))
    // input files only — the scripts must not be scanned as data
    val dataDir = Files.createTempDirectory("graft-mr-perfile-in")
    Seq("file01", "file02", "file03").foreach(f =>
      Files.copy(inDir.resolve(f), dataDir.resolve(f)))

    def headerCount(out: String): Int =
      partFiles(out).flatMap(readLines).count(_ == "HEADER\t1")

    val outPerFile = tmpOut()
    MapReduce.run(spark, JobSpec(
      dataDir.toString, outPerFile, mapper.toString, reducer.toString,
      numMappers = 2, numReducers = 2, pipePerFile = true))
    assert(headerCount(outPerFile) == 3,
      "per-file mode must spawn exactly one mapper per file")
    // content parity: every data line still flows through the shuffle
    val dataLines = partFiles(outPerFile).flatMap(readLines)
      .filterNot(_ == "HEADER\t1").sorted
    assert(dataLines == (Seq("alpha", "beta", "gamma") ++ bigLines).sorted)

    // default mode on the same input splits file03 across processes —
    // the divergence this flag exists to close
    val outDefault = tmpOut()
    MapReduce.run(spark, JobSpec(
      dataDir.toString, outDefault, mapper.toString, reducer.toString,
      numMappers = 2, numReducers = 2))
    assert(headerCount(outDefault) > 3)
  }

  test("piped and native jobs skip the same _- and .-prefixed inputs") {
    // Hadoop's input formats reject `_`/`.` names even as explicit paths,
    // and textFile(dir) skips them: listInputs must skip both, or the
    // piped job dies on a file the native job never reads
    val inDir = Files.createTempDirectory("graft-mr-hidden")
    Files.writeString(inDir.resolve("a.txt"), "Alpha beta\nbeta\tgamma [x]\n\n")
    Files.writeString(inDir.resolve("_notes.txt"), "notes\n")
    Files.writeString(inDir.resolve(".hidden"), "hidden\n")
    val outX = tmpOut()
    val outN = tmpOut()
    MapReduce.run(spark, JobSpec(inDir.toString, outX, wcMap, wcReduce,
      numMappers = 2, numReducers = 2))
    Engine.wordCount(spark, inDir.toString, outN, numReducers = 2)
    assertSameParts(outN, outX, "native vs piped")
    val px = partFiles(outX)
    assert(px.flatMap(readLines).sorted == Seq("\t3", "alpha\t1", "beta\t2",
      "gamma\t1", "x\t1").sorted)
  }

  test("native and executable word count agree per part file at r=3") {
    requireFixtures()
    val outN = tmpOut()
    val outX = tmpOut()
    Engine.wordCount(spark, s"$ref/input", outN, numReducers = 3)
    MapReduce.run(spark, JobSpec(
      s"$ref/input", outX,
      s"$ref/exec/wc_map.sh", s"$ref/exec/wc_reduce.sh",
      numMappers = 2, numReducers = 3))
    (0 until 3).foreach { i =>
      val p = f"part-$i%05d"
      assert(readLines(Paths.get(outN, p)) == readLines(Paths.get(outX, p)),
        s"partition $p differs")
    }
  }

  test("native word count is byte-identical to the line-at-a-time and piped jobs on hostile input") {
    // separator runs, brackets and tabs; blank lines; A-Z beside É/İ,
    // which only A-Z lower-cases; \u0001 and \b, which sort below \t;
    // U+E000 and U+FFFD, which UTF-16 order ranks above the
    // supplementary plane and UTF-8 below it; CRLF and a missing final
    // newline
    val inDir = Files.createTempDirectory("graft-mr-hostile")
    def write(name: String, text: String): Unit =
      Files.write(inDir.resolve(name), text.getBytes(UTF_8))
    write("a.txt", "Hello  World\n\n\n  lead\t\ttabs\t[x]]y[[z\n" +
      "ABCXYZ abcxyz Éclair éclair İstanbul istanbul IŞIK\n[]\n\t\n")
    write("b.txt", "Crlf line\r\nCRLF\r\n\r\nend [ ] \r\nno final newline")
    write("c.txt", "a\u0001 a a\u0001b \u0001 \b x\u0002 x\ta\u0001\n" +
      "\uD83D\uDE00 smile\uD83D\uDE00 \uE000 \uFFFD \uD835\uDD18x " +
      "\uD835\uDD18 日本語 日本 \uE000a \uD83D\uDE00\n" +
      "mixed\u0001Case MIXED\u0001case\n")
    for (r <- Seq(1, 2, 3, 5)) {
      val (outN, outO, outX) = (tmpOut(), tmpOut(), tmpOut())
      Engine.wordCount(spark, inDir.toString, outN, numReducers = r)
      lineAtATimeWordCount(inDir.toString, outO, r)
      MapReduce.run(spark, JobSpec(inDir.toString, outX, wcMap, wcReduce,
        numMappers = 2, numReducers = r))
      assert(partFiles(outN).size == r)
      assertSameParts(outN, outO, s"native vs line-at-a-time at r=$r")
      assertSameParts(outN, outX, s"native vs piped at r=$r")
    }
  }

  /** Input for the retry tests: enough distinct words that every map and
    * reduce task has records, and the counts they must add up to. */
  private def retryInput(): (String, Map[String, Long]) = {
    val inDir = Files.createTempDirectory("graft-mr-retry")
    val rnd = new scala.util.Random(5)
    val lines = Seq.fill(2000)(Seq.fill(rnd.nextInt(6))(
      "W" + rnd.nextInt(300)).mkString(" "))
    Files.writeString(inDir.resolve("part-a"), lines.take(900).mkString("\n") + "\n")
    Files.writeString(inDir.resolve("part-b"), lines.drop(900).mkString("\n") + "\n")
    val want = lines.flatMap(_.toLowerCase.split(" ", -1))
      .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }
    (inDir.toString, want)
  }

  for (stage <- Seq("map", "reduce"))
    test(s"task retry: first-attempt $stage failures still yield the exact counts") {
      val (in, want) = retryInput()
      val out = tmpOut()
      assert(ForkedJvm.run("graft.RetryMain", "1g", Seq(in, out, stage)) == 0)
      assert(partFiles(out).map(_.getFileName.toString) ==
        Seq("part-00000", "part-00001"))
      assert(countsOf(out) == want)
    }
}
