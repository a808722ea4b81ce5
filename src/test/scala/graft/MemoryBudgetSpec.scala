package graft

import java.io.{File, PrintWriter}
import java.nio.file.Files

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Memory-discipline budget for the MapReduce pipe path, mirroring the
  * reference's streaming-execution test (reference tests/test_worker_11.py:
  * 121 asserts < 1 MB RSS growth while mapping a 3.7 MB input): a 64 MB
  * input must flow through the FULL map → shuffle-sort → reduce pipeline
  * inside a 256 MB JVM. A pipeline that materialized an input partition
  * (the reference's own reducer DOES read whole files into memory,
  * worker/__main__.py:131) would blow the heap: 32 MB of lines as Java
  * strings is ~2.5× that, twice concurrently, before mapper output —
  * while the streaming path holds only sorter buffers that spill.
  */
class MemoryBudgetSpec extends AnyFunSuite {

  test("64 MB wordcount streams through a 256 MB JVM (map+shuffle+reduce)") {
    val dir = Files.createTempDirectory("graft-membudget")
    val in = dir.resolve("in"); Files.createDirectory(in)
    // 2 input files × 32 MB of known lines → deterministic word counts
    val line = "alpha beta gamma delta epsilon"
    val linesPerFile = (32 << 20) / (line.length + 1)
    for (f <- Seq("file01", "file02")) {
      val w = new PrintWriter(in.resolve(f).toFile)
      try (1 to linesPerFile).foreach(_ => w.println(line)) finally w.close()
    }
    val out = dir.resolve("out").toString

    val code = ForkedJvm.run("graft.MemBudgetMain", "256m",
      Seq(in.toString, out))
    assert(code == 0, s"forked 256 MB MemBudgetMain exited $code; its " +
      "exception (an OutOfMemoryError, a missing executable, …) is in the " +
      "forked log above")

    // every word count must equal the total line count, summed across the
    // reduce partitions each word hashed to
    val total = 2L * linesPerFile
    val counts = new File(out).listFiles.filter(_.getName.startsWith("part-"))
      .flatMap { f =>
        val src = Source.fromFile(f)
        try src.getLines().map { l =>
          val Array(w, n) = l.split('\t'); (w, n.toLong)
        }.toList
        finally src.close()
      }.groupMapReduce(_._1)(_._2)(_ + _)
    assert(counts == Map("alpha" -> total, "beta" -> total,
      "gamma" -> total, "delta" -> total, "epsilon" -> total))

    // cleanup (64 MB of scratch)
    def rm(f: File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete()
    }
    rm(dir.toFile)
  }

  test("high-cardinality aggregation SPILLS and stays exact in a 320 MB JVM") {
    // The relational twin of the pipe-path budget: 3 M rows / 1.5 M groups
    // with 100-byte carried payloads cannot hold their hash-aggregation
    // state in a 320 MB heap's execution region — HashAggregate must fall
    // back to sort-based spilling, and the spilled runs must merge back to
    // EXACT counts/sums/distincts (SpillMain fails nonzero on any drift,
    // and also if nothing spilled — premise rot is a failure too).
    assert(ForkedJvm.run("graft.SpillMain", "320m", Seq.empty) == 0,
      "forked 320 MB JVM failed — either the spill path lost data or the " +
        "workload no longer forces a spill")
  }
}
