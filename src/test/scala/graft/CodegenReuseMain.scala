package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Counts Janino compiles and Spark jobs per registry row per pass in ONE
  * fresh `Bench.benchSession("4")`: the measurement behind the recipe's
  * codegen cache size, the forked body of [[CodegenReuseSpec]], and the
  * per-row job count a change that claims "no job change" compares at two
  * commits. Spark's codegen cache is JVM-wide and its size is read once,
  * so each setting needs its own JVM.
  *
  * {{{
  * CodegenReuseMain <sfDir> <passes> <row,row,...|all> [conf=value ...]
  * }}}
  *
  * A compile is a miss of that cache (`CodegenMetrics.METRIC_COMPILATION_TIME`
  * counts one per Janino compile). A job is one a SparkListener saw start;
  * listener events arrive asynchronously, so each row's count is read
  * once a one-task marker job's start has been delivered (the bus
  * delivers in order). Each row's DataFrame is built and collected, as
  * perfbench's registry ops do; building counts too (the round loops land
  * their rounds eagerly). Prints one line per row and pass, then the pass
  * totals, the heap after a full GC, Metaspace and VmHWM. Exit 0: every
  * row's last pass compiled at most its [[Residual]] allowance; exit 2:
  * some row compiled more (the cache thrashes); any other code: a row
  * failed.
  */
object CodegenReuseMain {

  /** Classes a row may compile afresh in one run even when the cache holds
    * every body it ever compiled (BENCH_NOTES, "Codegen cache"). A
    * whole-stage body carries its `codegenStageId`, and AQE numbers a new
    * query stage when it plans it, which for two independent stage chains
    * is the order in which their shuffles finish. q_tfidf and q_bm25 each
    * have two such sibling pairs; a completion order not seen before makes
    * two new bodies, compiled once per class loader (driver and executor):
    * 4 per pair, so at most 8 in one run, and 0 once every order has run. */
  val Residual: Map[String, Int] = Map("q_tfidf" -> 8, "q_bm25" -> 8)

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val Marker = "graft.jobcount.marker"

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = args(1).toInt
    val rows =
      if (args(2) == "all") Registry.all.map(_.name) else args(2).split(",").toSeq
    val confs = args.drop(3).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
    val spark = Bench.benchSession("4", confs)
    val sc = spark.sparkContext
    val started = new AtomicLong
    val markers = new LinkedBlockingQueue[Long]
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Marker) != null))
          markers.put(started.get)
        else started.incrementAndGet()
    })
    def jobs(): Long = {
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(Marker, null)
      markers.take()
    }
    val perPass = (1 to passes).map { p =>
      val t0 = System.nanoTime()
      val counts = rows.map { name =>
        val jobsBefore = jobs()
        val before = compiles()
        Registry.byName(name).run(spark, sfDir).collect()
        val n = compiles() - before
        val j = jobs() - jobsBefore
        println(s"[codegen] pass $p $name compiles=$n jobs=$j")
        name -> n
      }
      println(f"[codegen] pass $p total compiles=${counts.map(_._2).sum} " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
      counts
    }
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val metaspace = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace").map(_.getUsage)
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: ?")
    println(f"[codegen] compiles=${compiles()} " +
      f"compile_s=${CodeGenerator.compileTime / 1e9}%.2f " +
      s"classes_loaded=${ManagementFactory.getClassLoadingMXBean.getLoadedClassCount} " +
      f"heap_after_gc_mb=$heapMb%.1f " +
      metaspace.fold("metaspace=?")(u =>
        f"metaspace_used_mb=${u.getUsed / 1048576.0}%.1f " +
          f"metaspace_committed_mb=${u.getCommitted / 1048576.0}%.1f") +
      " " + hwm.replaceAll("\\s+", " "))
    spark.stop()
    val over = perPass.last.filter { case (name, n) => n > Residual.getOrElse(name, 0) }
    if (over.nonEmpty) {
      println(s"[codegen] last pass over allowance: " +
        over.map { case (n, c) => s"$n=$c" }.mkString(", "))
      sys.exit(2)
    }
  }
}
