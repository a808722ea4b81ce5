package graft

/** The scale laws at size, with their shape laws:
  *
  * {{{
  * Test/runMain graft.ScaleLawMain <src> <copies> [group]
  * }}}
  *
  * runs every [[ScaleLaws.groups]] law group (or just `group`) over
  * `src` blown up ×copies, exact and shape laws both, on the bench
  * session recipe with `SPARK_GRAFT_CPUS` cores (default 4). Group
  * `streamkill` (run with the rest, or alone) forks StreamKillMain's
  * kill, resumekill and resume phases over the same ×copies events: two
  * hard JVM kills mid-drain, then a resume that must equal the batch
  * twin. The work dir is a [[operators.Scratch]] dir, removed at exit.
  * Prints every law's verdict; exits 1 if any failed. */
object ScaleLawMain {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleLawMain <src> <copies> [group]")
    val (src, copies) = (args(0), args(1).toInt)
    val names = ScaleLaws.groups.map(_._1) :+ "streamkill"
    val only = args.lift(2)
    require(only.forall(names.contains), s"groups: ${names.mkString(" ")}")
    val work = operators.Scratch.fresh("scale-laws")
    // long stream drains in this JVM: bound dead-shuffle residency, which
    // the ContextCleaner only reaps after a GC
    val spark = Bench.benchSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      Map("spark.cleaner.periodicGC.interval" -> "60s"))
    val run = new ScaleLaws.Run(spark, src, copies, work, shapes = true)
    val t0 = System.nanoTime()
    for (g <- only.fold(names)(Seq(_))) {
      val g0 = System.nanoTime()
      if (g == "streamkill") run.runGroup(g, streamKill)
      else run.runGroup(g)
      println(f"SCALE| group $g: ${(System.nanoTime() - g0) / 1e9}%.1f s")
    }
    run.close()
    spark.stop()
    val failed = run.laws.count(_.failure.isDefined)
    println(f"SCALE| ${run.laws.size} laws, $failed failed, ×$copies over " +
      f"$src in ${(System.nanoTime() - t0) / 1e9}%.0f s")
    run.laws.foreach(l => println(s"SCALE| $l"))
    if (failed > 0) sys.exit(1)
  }

  /** StreamKillMain's double-crash grammar at ×copies, in forked JVMs
    * (the halts must not take this one down). */
  private def streamKill(run: ScaleLaws.Run): Unit = {
    val dir = s"${run.work}/streamkill"
    val heap = if (run.copies >= 1000) "12g" else "3g"
    for ((phase, want) <-
        Seq("kill" -> 42, "resumekill" -> 42, "resume" -> 0)) {
      val got = ForkedJvm.run("graft.StreamKillMain", heap,
        Seq(run.src, dir, phase, run.copies.toString))
      run.exact(s"StreamKillMain $phase at ×${run.copies} exits $want",
        got == want, s"exit $got")
    }
  }
}
