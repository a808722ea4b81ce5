package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{ExceptionFailure, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Forked-JVM entry for the task-retry exactly-once test: runs the native
  * word count ([[Engine.countWords]]) with an injected FIRST-ATTEMPT failure
  * in the chosen stage and exits 0 only if the job completes and the
  * injected failure fired at least once. The spec then
  * compares the output to the reference golden or to computed counts —
  * proving Spark's task retry (the analog of the reference manager
  * reassigning a dead worker's task, reference
  * mapreduce/manager/__main__.py:304-333, asserted by
  * tests/test_manager_05.py:168-235) re-executes failed tasks without
  * duplicating or losing records (SURVEY.md invariant §2.5-5).
  *
  * Forked because retry needs `local[2, 2]` (maxFailures=2) — the shared
  * test session runs plain local mode where any task failure is fatal.
  *
  * args: <inputDir> <outputDir> <failStage: map|reduce>
  */
object RetryMain {
  def main(args: Array[String]): Unit = {
    val Array(in, out, failStage) = args
    val Injected = "injected first-attempt failure"
    val spark = SparkSession.builder()
      .master("local[2, 2]") // 2 threads, 2 task attempts
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def failFirstAttempt(): Unit = {
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0)
        throw new RuntimeException(
          s"$Injected (partition ${tc.partitionId()})")
    }

    // count the injected failures: a retry test that never hit its
    // injection point would pass without exercising any retry
    val injected = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(end: SparkListenerTaskEnd): Unit = end.reason match {
        case f: ExceptionFailure if f.description.startsWith(Injected) =>
          injected.incrementAndGet()
        case _ =>
      }
    })

    // each fires as its task starts, on every partition, empty or not: the
    // map-stage one before word count reads a line; the reduce-stage one
    // after the shuffle read, before any output line — the retried attempt
    // must still see the complete partition and the sink must keep no
    // partial attempt-0 file
    def failIn(stage: String)(lines: Iterator[String]): Iterator[String] = {
      if (failStage == stage) failFirstAttempt()
      lines
    }
    val lines = spark.sparkContext.textFile(in, 2).mapPartitions(failIn("map"))
    Engine.countWords(lines, numReducers = 2).mapPartitions(failIn("reduce"))
      .saveAsTextFile(out)
    spark.stop() // drains the listener bus
    if (injected.get == 0) {
      System.err.println(s"RetryMain: no injected $failStage failure fired")
      sys.exit(3)
    }
  }
}
