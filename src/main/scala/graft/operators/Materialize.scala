package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** How graft's operators materialize frames. The iterative operators
  * (CC, star CC, LPA, PageRank, PQ training, Lloyd k-means, mixture
  * weights) share one round-loop rule: every round is materialized
  * ([[Materialize.land]]), the round it supersedes is freed once it has
  * landed ([[Materialize.rounds]], [[Materialize.untilStable]]), and a
  * frame the loop did not materialize is never freed
  * ([[Materialize.borrowed]]).
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

  /** A round loop's frame. [[land]] makes one the loop owns: it is freed
    * once its successor supersedes it. [[borrowed]] wraps the caller's
    * frame (or a projection over it) as a loop's first round: read, never
    * freed — freeing a projection would drop the caller's checkpoint
    * under it. So how a loop passes its first frame decides whether the
    * loop frees it. */
  final class Round private[Materialize] (val df: DataFrame,
      private[Materialize] val owned: Boolean)

  def borrowed(df: DataFrame): Round = new Round(df, owned = false)

  /** Materializes `round` of a loop. Default (`every = None`):
    * `localCheckpoint` — blocks live on executors, lineage is truncated.
    * Fast, but an executor loss mid-iteration KILLS the job (truncated
    * lineage cannot recompute lost blocks); acceptable where a re-run is
    * cheap.
    *
    * Durable (`every = Some(n)`): every n-th round (round 0 included) is
    * `Dataset.checkpoint()`-ed to the context's checkpoint dir, which the
    * driver can re-read after ANY executor loss. Rounds in between keep
    * their lineage (a lazy `persist()`, landed by the first action over
    * it), so a lost block recomputes from the last durable round; lineage
    * depth is bounded by n. At 100 TB set Spark's `spark.checkpoint.dir`
    * to shared storage (HDFS/S3); without it a [[Scratch]] dir is used,
    * which survives only single-machine executor churn and is deleted at
    * JVM exit. */
  def land(df: DataFrame, round: Int = 0, every: Option[Int] = None): Round =
    new Round(every match {
      case Some(n) =>
        require(n > 0, s"checkpointEvery must be positive, got $n")
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(Scratch.fresh("cc-ckpt"))
        if (round % n == 0) df.checkpoint() else df.persist()
      case None => df.localCheckpoint()
    }, owned = true)

  /** Fixed depth: `n` rounds of `step` from `first`, each landed with
    * `localCheckpoint`. As each round lands, the round it supersedes is
    * freed, so pinned executor memory stays O(1) in rounds. The iterator
    * yields each round once it has landed; the result is the last. */
  def rounds(first: Round, n: Int)(
      step: DataFrame => DataFrame): Iterator[DataFrame] = {
    var cur = first
    Iterator.fill(n) {
      val next = land(step(cur.df))
      if (cur.owned) free(cur.df)
      cur = next
      next.df
    }
  }

  /** Until stable: rounds of `step` from `first`, each landed under
    * `every` ([[land]]), until `stable(prev, next)` holds, at most
    * `maxRounds` of them. The superseded round is freed only after the
    * stop test has read both. Returns the stable round, or None when the
    * cap was hit. */
  def untilStable(first: Round, maxRounds: Int, every: Option[Int])(
      step: DataFrame => DataFrame)(
      stable: (DataFrame, DataFrame) => Boolean): Option[DataFrame] = {
    @scala.annotation.tailrec
    def go(cur: Round, r: Int): Option[DataFrame] =
      if (r > maxRounds) None
      else {
        val next = land(step(cur.df), r, every)
        val done = stable(cur.df, next.df)
        if (cur.owned) free(cur.df)
        if (done) Some(next.df) else go(next, r + 1)
      }
    go(first, 1)
  }

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
    * its CALLER's checkpoint (e.g. lpaRounds' round 0 over `nodes`), and
    * why such a first round is passed [[borrowed]].
    *
    * After this call the frame is UNRECOMPUTABLE (localCheckpoint already
    * truncated its lineage) — only free a round once its successor is
    * fully materialized and the round is never read again.
    */
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
