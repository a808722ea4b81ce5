package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench record is the cross-round comparison surface: its fields may
  * only be added, so these pins hold the names, the order and the
  * rounding of both output lines, and the `vs_prev` source. */
class BenchRecordSpec extends AnyFunSuite {

  private val om = new ObjectMapper()
  private val sentinels =
    Bench.Sentinels(0.12345, 0.2, 0.3, 0.4, 0.012345, 0.02, 0.03)

  private def lines(sf: String = "/data/sf0.1") =
    Bench.records(Map("q_a" -> 1.23456, "q_b" -> 0.5), Map("q_a" -> 2.0),
      Seq("q_c"), sentinels, sf)

  private def keys(json: String, path: String*): Seq[String] =
    path.foldLeft(om.readTree(json))(_.get(_)).fieldNames.asScala.toSeq

  test("full line keeps its field order, rounding and deltas") {
    val (full, _) = lines()
    assert(keys(full) == Seq("metric", "value", "unit", "noisy", "queries",
      "vs_prev", "failed", "sentinel", "sf"))
    val n = om.readTree(full)
    assert(n.get("metric").asText == "total")
    assert(n.get("value").asDouble == 1.735)
    assert(n.get("unit").asText == "sec")
    assert(!n.get("noisy").asBoolean)
    assert(n.get("queries").get("q_a").asDouble == 1.235)
    assert(keys(full, "vs_prev") == Seq("q_a"))
    assert(n.get("vs_prev").get("q_a").asDouble == 0.62)
    assert(n.get("failed").elements.asScala.map(_.asText).toSeq == Seq("q_c"))
  }

  test("summary line keeps its field order") {
    val (_, summary) = lines()
    assert(keys(summary) == Seq("metric", "value", "unit", "noisy",
      "n_queries", "failed", "sentinel", "sf"))
    assert(om.readTree(summary).get("n_queries").asInt == 2)
  }

  test("sentinel block carries the seven readings, floors at 4 places") {
    val (full, summary) = lines()
    val want = Seq("start", "end", "stream_start", "stream_end",
      "floor_start", "floor_stream", "floor_end")
    assert(keys(full, "sentinel") == want)
    assert(keys(summary, "sentinel") == want)
    val s = om.readTree(full).get("sentinel")
    assert(s.get("start").asDouble == 0.123)
    assert(s.get("floor_start").asDouble == 0.0123)
  }

  test("noisy follows the start, stream and job-floor thresholds") {
    assert(!sentinels.noisy)
    assert(sentinels.copy(start = 0.26).noisy)
    assert(sentinels.copy(streamStart = 0.36).noisy)
    assert(sentinels.copy(floorStart = 0.036).noisy)
    assert(!sentinels.copy(end = 9.0, floorStream = 9.0).noisy)
  }

  test("an sf path with quotes and backslashes round-trips") {
    val sf = "/data/a \"quoted\" \\ dir"
    val (full, summary) = lines(sf)
    assert(om.readTree(full).get("sf").asText == sf)
    assert(om.readTree(summary).get("sf").asText == sf)
  }

  test("prevQueries reads only a same-sf bench_last record") {
    val dir = Files.createTempDirectory("graft-bench-record")
    val file = dir.resolve("bench_last.json").toFile
    assert(Bench.prevQueries("/data/sf0.1", file) == Map.empty)
    Files.writeString(file.toPath, lines()._1 + "\n")
    assert(Bench.prevQueries("/data/sf0.1", file) ==
      Map("q_a" -> 1.235, "q_b" -> 0.5))
    assert(Bench.prevQueries("/data/sf0.01", file) == Map.empty)
  }
}
