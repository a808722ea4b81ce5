package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import operators.ChunkStream

/** [[ChunkStream.State]]'s read rule in-process: which state directories
  * a reader sees around a compaction killed before its marker. The forked
  * StreamKillMain phases prove the same rule end to end through hard JVM
  * kills; this spec pins it directly on a `file:` root. */
class ChunkStreamSpec extends AnyFunSuite {

  test("committed state ignores a markerless compaction; a replay marks " +
      "it, sweeps the merged batches and bounds reads above its watermark") {
    val s = TestSpark.spark
    import s.implicits._
    val work = java.nio.file.Files
      .createTempDirectory("graft-chunkstate").toString
    val root = s"file:$work"
    val st = new ChunkStream.State(s, root)
    val fs = new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    def names(dirs: Seq[String]): Seq[String] = dirs.map(new Path(_).getName)
    def onDisk(): Seq[String] =
      fs.listStatus(new Path(s"$root/state/k")).map(_.getPath.getName)
        .toSeq.sorted
    val hook = ChunkStream.compactionHook
    try {
      for (bid <- 0L to 5L) st.put("k", bid, Seq(bid).toDF("bid"))
      ChunkStream.compactionHook = (point, _) =>
        if (point == "premark") throw new IllegalStateException("killed")
      intercept[IllegalStateException](st.compact(3, Seq("k")))
      assert(onDisk() == Seq("b000000", "b000001", "b000002", "b000003",
        "b000004", "b000005", "c000003"),
        "the killed compaction should leave its c dir and every source")
      assert(names(st.committed("k")) == (0 to 5).map(i => f"b$i%06d"),
        "a markerless consolidated dir must be invisible to readers")

      ChunkStream.compactionHook = hook
      st.compact(3, Seq("k"))
      assert(fs.exists(new Path(s"$root/state/k/c000003/_GRAFT_COMPACTED")),
        "the replayed compaction did not mark its dir")
      assert(onDisk() == Seq("b000004", "b000005", "c000003"),
        "the replayed compaction did not sweep b000000-b000003")
      assert(names(st.committed("k", before = 5)) ==
        Seq("c000003", "b000004"))
      assert(st.read("k").as[Long].collect().sorted.toSeq == (0L to 5L),
        "compaction lost or doubled a batch")
      for (bound <- Seq(3L, 0L)) {
        val e = intercept[IllegalArgumentException](
          st.committed("k", before = bound))
        assert(e.getMessage.contains(s"watermark 3 >= read bound $bound"))
      }
    } finally {
      ChunkStream.compactionHook = hook
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    }
  }
}
