package graft

import org.apache.spark.sql.SparkSession

/** Forked-JVM entry for MemoryBudgetSpec: runs the full external-executable
  * MapReduce wordcount inside a DELIBERATELY tiny heap (the spec forks
  * `java -Xmx256m`). Succeeding proves the pipe path streams — scan, pipe,
  * sort-shuffle (spilling), reduce, sink — and never materializes an input
  * partition in memory, the analog of the reference's <1 MB RSS-delta
  * budget (reference tests/test_worker_11.py:121).
  */
object MemBudgetMain {
  def main(args: Array[String]): Unit = {
    val Array(in, out) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      // bypass Spark's 450 MB minimum-heap validation: the tiny heap IS
      // the point of this test; leave a 64 MB reserve
      .config("spark.testing.memory",
        Runtime.getRuntime.maxMemory.toString)
      .config("spark.testing.reservedMemory", (64L << 20).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (wcMap, wcReduce) = WcScripts.write()
    operators.MapReduce.run(spark, operators.JobSpec(
      in, out, wcMap, wcReduce,
      numMappers = 2, numReducers = 2))
    spark.stop()
  }
}
