package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run: the session recipe
  * Verify, Bench and perfbench run ([[Bench.benchSession]]) on 4 cores,
  * with a temp warehouse dir. cleanCheckpoints stays OFF here (unlike
  * Verify/Bench): the ContextCleaner would GC-delete superseded CC round
  * checkpoints out from under DedupSpec's durability assertion; the spec
  * deletes its checkpoint data explicitly instead. */
object TestSpark {
  lazy val spark: SparkSession = Bench.benchSession("4", Map(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString,
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "false"))
}
