package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run every registered query (optionally filtered by name prefix) and
    * dump each result to `outDir/<name>` as parquet. Returns the failures
    * as name → message; a query that throws writes NO output directory,
    * so callers (and the driver's gate) must treat a missing dir as a
    * failure, never as "not registered". Factored out of [[main]] so the
    * harness test can run the full surface inside the shared test session
    * without `main`'s session-lifecycle side effects (getOrCreate + stop
    * would hijack and then kill the suite-wide session).
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Seq[String]] = None,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
        SparkEntry.queries): Map[String, String] = {
    def keep(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.toSeq.sortBy(_._1).filter(kv => keep(kv._1))
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed(name) =
            Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
        }
      }
    failed.toMap
  }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated name prefixes] — the filter
    // is a local-iteration convenience; the driver always passes two args.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val spark = Bench.benchSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val failed = run(spark, sfDir, outDir, only)
    // failed.json is ALWAYS written ({} when clean): its absence means the
    // dump itself died, never "no failures" — a vanishing query must be
    // loud (round 8-9's events breakage hid for two rounds because a
    // thrown query simply had no row anywhere).
    writeJson(s"$outDir/failed.json", failed)
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} queries FAILED: ${failed.keys.mkString(", ")}")
    writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    spark.stop()
  }

  private def writeJson(path: String, m: Map[String, String]): Unit =
    Files.writeString(Paths.get(path),
      new ObjectMapper().writeValueAsString(m.asJava))
}
