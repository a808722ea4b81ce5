package graft

import org.scalatest.funsuite.AnyFunSuite

/** Arg-parsing contract of the submit CLI (reference mapreduce/submit.py's
  * flags and defaults) — no Spark session involved. */
class CliSpec extends AnyFunSuite {

  test("defaults mirror the reference submit CLI") {
    val j = Cli.parse(Array.empty)
    assert(j.inputDirectory == "tests/testdata/input")
    assert(j.outputDirectory == "output")
    assert(j.numMappers == 2 && j.numReducers == 2)
  }

  test("flags override defaults") {
    val j = Cli.parse(Array(
      "--input", "/in", "--output", "/out",
      "--mapper", "m.sh", "--reducer", "r.sh",
      "--nmappers", "4", "--nreducers", "3"))
    assert(j.inputDirectory == "/in" && j.outputDirectory == "/out")
    assert(j.mapperExecutable == "m.sh" && j.reducerExecutable == "r.sh")
    assert(j.numMappers == 4 && j.numReducers == 3)
  }

  test("a known flag missing its value reports 'missing value'") {
    val e = intercept[RuntimeException](
      Cli.parse(Array("--input", "/in", "--output")))
    assert(e.getMessage.contains("missing value for --output"), e.getMessage)
  }

  test("an unknown flag reports 'unknown argument'") {
    val e = intercept[RuntimeException](
      Cli.parse(Array("--bogus", "x")))
    assert(e.getMessage.contains("unknown argument: --bogus x"), e.getMessage)
  }

  test("non-numeric counts and a reducer count below 1 fail the parse") {
    for (flag <- Seq("--nmappers", "--nreducers")) {
      val e = intercept[RuntimeException](Cli.parse(Array(flag, "abc")))
      assert(e.getMessage.contains(s"$flag expects a number, got: abc"),
        e.getMessage)
    }
    for (n <- Seq("0", "-1")) {
      val e = intercept[RuntimeException](
        Cli.parse(Array("--nreducers", n)))
      assert(e.getMessage.contains(s"--nreducers must be at least 1, got: $n"),
        e.getMessage)
    }
    // a mapper count below 1 still parses; Engine clamps it to 1
    assert(Cli.parse(Array("--nmappers", "0")).numMappers == 0)
  }

  test("activeCores sums totalCores over active executors only") {
    // canned /api/v1/applications/<id>/executors payload — pins the REST
    // parse without a live UI (the end-to-end probe is StatusMain)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      """[{"id":"driver","isActive":true,"totalCores":32},
          {"id":"1","isActive":false,"totalCores":8},
          {"id":"2","isActive":true,"totalCores":16}]""")
    assert(Cli.activeCores(json) == 48)
  }

  test("status --port selects the explicit UI port to probe") {
    // an app submitted with spark.ui.port outside the default 4040-4044
    // walk is invisible to a portless status; --port closes that gap
    assert(Cli.parseStatusPorts(Seq.empty) == Cli.defaultUiPorts)
    assert(Cli.parseStatusPorts(Seq("--port", "4099")) == (4099 to 4099))
    val missing = intercept[RuntimeException](
      Cli.parseStatusPorts(Seq("--port")))
    assert(missing.getMessage.contains("missing value for --port"),
      missing.getMessage)
    val nan = intercept[RuntimeException](
      Cli.parseStatusPorts(Seq("--port", "ui")))
    assert(nan.getMessage.contains("--port expects a number"), nan.getMessage)
    val unknown = intercept[RuntimeException](
      Cli.parseStatusPorts(Seq("--verbose")))
    assert(unknown.getMessage.contains("unknown argument: --verbose"),
      unknown.getMessage)
  }

  test("status reports the live session as manager + workers (exit 0)") {
    // bin/mapreduce status parity: exit 0 only with the control plane up
    // — here, the live session in this JVM's registry
    TestSpark.spark // force the shared session into existence
    val (lines, code) = Cli.status()
    assert(code == 0, lines.mkString("; "))
    assert(lines.exists(_.startsWith("manager: app ")), lines.mkString("; "))
    assert(lines.exists(_.matches("workers: \\d+ task slots")),
      lines.mkString("; "))
  }
}
