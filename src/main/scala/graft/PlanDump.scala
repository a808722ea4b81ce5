package graft

import java.nio.file.{Files, Paths}

/** Optimization-round evidence dump: `runMain graft.PlanDump <outDir>
  * [name1,name2,...]` writes each registered query's
  * `.explain("formatted")` text to `<outDir>/<name>.txt` (all registered
  * queries when no filter is given). Used to produce the committed
  * `plans/r{N}/<query>_{before,after}.txt` artifacts the optimization
  * judge checks plan claims against — run it from the round's HEAD for
  * the `_after` files and from a worktree of the pre-round commit for
  * `_before`. Session recipe matches Bench so the plans are the ones the
  * sweep actually executes (same shuffle partitions / AQE defaults).
  *
  * Only registered queries are dumped. The iterative loops checkpoint
  * every round, so their round joins are pinned in PlanSpec, which plans
  * the round bodies directly. A query that fails to plan does not stop
  * the dump; the run then exits 1 and names every failed query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <outDir> [name1,name2,...]")
    val outDir = args(0)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Bench.benchSession(cpus)
    Files.createDirectories(Paths.get(outDir))
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    only.foreach { want =>
      val missing = want -- qs.map(_._1).toSet
      require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    }
    val failed = qs.flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
        println(s"[plandump] wrote $outDir/$name.txt")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[plandump] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
