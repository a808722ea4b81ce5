package graft

import org.apache.spark.sql.SparkSession

/** Standalone per-query timing harness for performance forensics.
  *
  * `runMain graft.BenchOne <query> [iters]` times one registered query in a
  * fresh JVM/session — isolating it from whatever ran earlier in the full
  * Bench sweep (streaming rows leave memory-sink tables and state-store
  * maintenance threads behind; earlier queries leave GC debt). Use this to
  * decide whether a sweep's `vs_prev` outlier is a real plan regression
  * or bench-context contamination.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <query-name> [iterations]")
    val name = args(0)
    val iters = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // same session recipe + warm-up as the sweep, so timings are comparable
    val spark = Bench.benchSession(cpus)
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    Bench.warmUp(spark, sfDir)
    val times = (1 to iters).map { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[bench-one] $name iter $i: $dt%.3f s")
      dt
    }
    println(f"[bench-one] $name min=${times.min}%.3f s over $iters iters, sf=$sfDir")
    spark.stop()
  }
}
