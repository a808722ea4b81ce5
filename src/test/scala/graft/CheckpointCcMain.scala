package graft

import java.nio.file.{Files, Paths}

import scala.util.Using

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession

/** Forked-JVM entry for the reliable-checkpoint connected-components test:
  * every partition of the edge source throws on its FIRST task attempt
  * (the RetryMain injection pattern — the observable contract of a worker
  * dying mid-task, reference mapreduce/manager/__main__.py:304-333), and
  * the clustering runs with `checkpointEvery = Some(2)` — the durable
  * rounds land on disk, the in-between rounds keep recomputable lineage —
  * in `local[2, 2]` (2 task attempts). The session sets Spark's own
  * `spark.checkpoint.dir` to a fresh [[operators.Scratch]] dir. Exits 0
  * only if the run completes, every node of the planted chain labels to
  * its minimum, AND the durable rounds' `part-` files landed under that
  * dir.
  *
  * What local mode CAN prove: task failures during the durable-round
  * materialization and the iteration's joins are retried and the labels
  * stay exact (no lost/duplicated edges). What it CANNOT: surviving the
  * loss of already-materialized executor BLOCKS (local mode has one
  * BlockManager; losing it is losing the JVM) — that is the documented
  * cluster-mode property of Dataset.checkpoint (data re-read from the
  * checkpoint dir), exercised here down to the on-disk files.
  *
  * args: <nNodes>
  */
object CheckpointCcMain {
  def main(args: Array[String]): Unit = {
    val n = args(0).toInt
    val ckptDir = Paths.get(operators.Scratch.fresh("cc-ckpt-conf"))
    val spark = SparkSession.builder()
      .master("local[2, 2]") // 2 threads, 2 task attempts
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.checkpoint.dir", ckptDir.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val chain = spark.sparkContext
      .parallelize(0L until (n - 1).toLong, numSlices = 4)
      .mapPartitions { it =>
        val tc = TaskContext.get()
        if (tc != null && tc.attemptNumber() == 0)
          throw new RuntimeException(
            s"injected first-attempt failure (partition ${tc.partitionId()})")
        it.map(i => (i, i + 1))
      }
      .toDF("a_id", "b_id")
    val labels = operators.Dedup
      .connectedComponentsStar(chain, checkpointEvery = Some(2))
      .collect()
    val bad = labels.count(_.getLong(1) != 0L)
    if (labels.length != n || bad != 0) {
      System.err.println(
        s"wrong labels after recovery: n=${labels.length} (want $n), " +
          s"$bad nodes off the component minimum")
      sys.exit(1)
    }
    val parts = Using.resource(Files.walk(ckptDir)) {
      _.filter(_.getFileName.toString.startsWith("part-")).count()
    }
    if (parts == 0) {
      System.err.println(
        s"no durable round landed under spark.checkpoint.dir=$ckptDir")
      sys.exit(1)
    }
    spark.stop()
  }
}
