package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Frees the storage behind a materialized (localCheckpoint'd /
  * checkpoint'd) DataFrame.
  *
  * `Dataset.unpersist` only uncaches CacheManager entries (`.cache()` /
  * `.persist()` plans); a checkpointed Dataset's plan is a [[LogicalRDD]]
  * that was never registered there, so unpersist on it is a silent no-op
  * and the checkpoint blocks stay pinned until GC. Iterative loops that
  * materialize per round must instead unpersist the UNDERLYING RDD —
  * that is what actually drops the blocks and keeps pinned executor
  * memory O(1) across rounds.
  *
  * A CacheManager-CACHED frame (the `.persist()` in-between rounds of
  * the reliable-checkpoint CC path) is freed with plain unpersist FIRST:
  * its lineage plan still contains the durable rounds' [[LogicalRDD]]s,
  * which are live for the rest of the run — traversing it would both
  * unpersist those shared blocks and leak the frame's own cache.
  *
  * Otherwise the frame is a checkpoint or a cheap projection over one
  * (e.g. connectedComponents' labels, a Project over the round's
  * LogicalRDD), so the logical plan is traversed and every LogicalRDD
  * under it is unpersisted — a CHECKPOINTED round's plan was truncated
  * at materialization, so the only LogicalRDDs under it are its own.
  * The same traversal is why a loop must never free a projection over
  * its CALLER's checkpoint (e.g. lpaRounds' round 0 over `nodes`).
  *
  * After this call the frame is UNRECOMPUTABLE (localCheckpoint already
  * truncated its lineage) — only free a round once its successor is
  * fully materialized and the round is never read again.
  */
object Materialize {
  /** The session's shuffle-partition count — the scale knob every
    * pre-checkpoint repartition in the iterative loops keys on. An
    * EXPLICIT count (repartition(n, key), REPARTITION_BY_NUM) where the
    * loops use it: a keyed repartition without a count is
    * AQE-coalescible, and a coalesced exchange materializes through
    * localCheckpoint as UnknownPartitioning — the preserved
    * hashpartitioning the loops rely on to skip the per-round O(E)
    * exchange only survives when the count is pinned. */
  private[operators] def shufflePartitions(
      s: org.apache.spark.sql.SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions").toInt

  /** Run independent Spark actions concurrently and wait for all of
    * them (guide §2.6 "overlap independent jobs"): actions submitted
    * from driver code are only sequential because the driver calls
    * them sequentially, so a set of jobs over already-materialized
    * inputs pays ~max(job) instead of Σ(job) when submitted from a
    * pool. Every action finishes before this returns or throws: a
    * failed streaming batch may be replayed into the same state dirs,
    * so no sibling write may still be running once the failure is
    * seen. The first failure in submission order is then rethrown
    * (unwrapped); callers rely on any failure propagating before they
    * commit downstream state (e.g. a streaming offset log). */
  private[graft] def overlap(actions: Seq[() => Unit]): Unit =
    if (actions.sizeIs <= 1) actions.foreach(_.apply())
    else {
      val pool =
        java.util.concurrent.Executors.newFixedThreadPool(actions.size)
      val futures =
        try actions.map { a =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = a()
          })
        } finally pool.shutdown()
      val failures = futures.flatMap { f =>
        try { f.get(); None }
        catch { case e: java.util.concurrent.ExecutionException =>
          Some(e.getCause) }
      }
      failures.headOption.foreach(e => throw e)
    }

  def free(df: DataFrame): Unit = {
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      df.unpersist(blocking = false)
    else {
      val rdds = df.queryExecution.logical.collect { case l: LogicalRDD => l }
      if (rdds.isEmpty) df.unpersist(blocking = false)
      else rdds.foreach(_.rdd.unpersist(blocking = false))
    }
  }
}
