package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.SparkSession

import graft.plans.{Md5BytesPartitioner, UnsignedBytesOrdering}

/** A MapReduce job, mirroring the reference's submit surface field for
  * field (reference mapreduce/submit.py:70-78, manager/__main__.py:116-124):
  * directory in, directory out, one executable per stage, task counts.
  */
final case class JobSpec(
    inputDirectory: String,
    outputDirectory: String,
    mapperExecutable: String,
    reducerExecutable: String,
    numMappers: Int = 2,
    numReducers: Int = 2,
    /** D3 parity mode: spawn the mapper executable exactly once per input
      * FILE (the reference's one-Popen-per-file contract,
      * worker/__main__.py:94-101) instead of once per partition. Identical
      * output for stateless line mappers (all shipped jobs); required for
      * executables with per-invocation state (e.g. one emitting a header
      * per run). Caps map parallelism at the file count and reads each
      * file in a single task — keep the default for line-stateless
      * mappers at scale. */
    pipePerFile: Boolean = false)

/** The reference engine's entire execution model as ONE Spark pipeline:
  *
  *   directory scan → external-executable map → MD5 hash partition →
  *   sort → merge → external-executable reduce → part-NNNNN text files
  *
  * (reference dataflow: manager/__main__.py:257-270 split,
  * worker/__main__.py:94-117 map + partition, :130-155 sort + merge,
  * :138-157 reduce, :141-143 sink.)
  *
  * Spark-first mapping — each stage is the native primitive, not an
  * emulation:
  *  - D1 scan: `sc.textFile(dir, numMappers)` (one split per file block;
  *    mappers are stateless line filters, so file→task grouping parity is
  *    unnecessary for output parity);
  *  - D3/D7 executables: `RDD.pipe` — the same stdin/stdout line contract,
  *    one process per partition by default, or exactly one per input file
  *    with `JobSpec.pipePerFile` (reference parity for per-invocation-
  *    stateful mappers, worker/__main__.py:94-101);
  *  - D4-D6 shuffle: a key-ordered `ShuffledRDD` with
  *    [[Md5BytesPartitioner]] — Spark's sort-based shuffle IS the
  *    reference's per-file sort + heapq.merge, with spilling the reference
  *    lacks (it reads whole files into memory, worker/__main__.py:131);
  *  - D8 sink: `saveAsTextFile` — one `part-NNNNN` per reduce partition,
  *    same 5-digit naming (worker/__main__.py:141-143).
  *
  * Sort-order parity detail: the reference sorts raw lines WITH their
  * trailing newline (`readlines(); sort()`), where `\t` (0x09) < `\n`
  * (0x0a) matters when one line is a strict prefix of another. We shuffle
  * on `line + "\n"` so the sort and the tab-key extraction both see exactly
  * what Python saw.
  *
  * At 100 TB: every stage is distributed; nothing materializes on the
  * driver. Piped jobs run arbitrary executables, so they shuffle every
  * mapper line, as the reference (which has no combiner) does; native word
  * count ([[graft.Engine.wordCount]]) combines map-side and shuffles one
  * record per distinct word per map task.
  */
object MapReduce {

  /** D1: enumerate the input directory — flat listing, sorted by name,
    * as the reference's `sorted(Path(dir).glob("*"))`
    * (manager/__main__.py:257-259), except that `_`- and `.`-prefixed
    * names are skipped as well: Hadoop's input formats reject those
    * paths even when named explicitly, and `textFile(dir)` (the native
    * jobs) and the text-directory source skip them too, so every job
    * reads the same file set. */
  def listInputs(spark: SparkSession, dir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(path).filter(_.isFile)
      .filterNot(f => f.getPath.getName.startsWith("_") ||
        f.getPath.getName.startsWith("."))
      .map(_.getPath.toString)
      .sortBy(_.split('/').last).toSeq
  }

  /** D2: round-robin file→task grouping — task i gets files i, i+m, i+2m…
    * (manager/__main__.py:260-270; grouping asserted by reference
    * tests/test_manager_02.py:139-159). Output parity never depends on
    * this grouping (partitions re-merge in the shuffle), but the task
    * shape is part of the engine surface. */
  def splitRoundRobin(files: Seq[String], numMappers: Int): Seq[Seq[String]] = {
    val m = math.max(numMappers, 1)
    (0 until m).map { i =>
      files.indices.collect { case j if j % m == i => files(j) }
    }.filter(_.nonEmpty)
  }

  /** D1 + D3: directory scan (one RDD per round-robin task group) piped
    * through the external mapper. An empty input directory still runs the
    * job — the reference dispatches zero map tasks and the reducers write
    * empty part files. */
  private def mapStage(spark: SparkSession, job: JobSpec): RDD[String] = {
    val files = listInputs(spark, job.inputDirectory)
    val groups = splitRoundRobin(files, job.numMappers)
    if (groups.isEmpty) spark.sparkContext.emptyRDD[String]
    else {
      val input =
        if (job.pipePerFile)
          // one partition per FILE: textFile may split a large file into
          // several blocks, so collapse each file to a single partition
          // (shuffle-free coalesce preserves line order). `pipe` then
          // spawns the mapper exactly once per file, empty files included
          // (FileInputFormat emits one empty split), matching the
          // reference's per-file Popen loop.
          spark.sparkContext.union(
            files.map(f => spark.sparkContext.textFile(f).coalesce(1)))
        else
          // one textFile PER FILE, never a comma-joined path list: a
          // filename containing a comma (legal everywhere, fine in the
          // reference's per-file Popen loop) would be split into two
          // nonexistent paths by textFile's list parsing
          spark.sparkContext.union(
            groups.map(g => spark.sparkContext.union(
              g.map(f => spark.sparkContext.textFile(f)))))
      pipe(input, job.mapperExecutable)
    }
  }

  /** D3/D7: lines to and from an executable as UTF-8, as the reference's
    * byte-level pipes carry them — `RDD.pipe`'s default, the JVM's
    * default charset, is ASCII under a POSIX locale and would turn every
    * non-ASCII character into `?`. */
  private def pipe(lines: RDD[String], executable: String): RDD[String] =
    lines.pipe(Seq(executable), encoding = UTF_8.name)

  /** D4-D6: MD5 hash partition + whole-line sort within each partition.
    * The shuffle record is the line's UTF-8 BYTES with a trailing `\n` and
    * no value; the reduce side decodes it back, so each line crosses the
    * shuffle once. The newline reproduces Python's `readlines()`
    * comparison at line-prefix boundaries, and unsigned byte order equals
    * code-point order — Java String ordering (UTF-16 units) would rank
    * supplementary-plane characters differently than the reference's sort. */
  def shuffle(lines: RDD[String], numReducers: Int): RDD[String] = {
    val records = lines.map(l => ((l + "\n").getBytes(UTF_8), null))
    new ShuffledRDD[Array[Byte], Null, Null](records,
      new Md5BytesPartitioner(numReducers))
      .setKeyOrdering(UnsignedBytesOrdering)
      .map { case (b, _) => new String(b, 0, b.length - 1, UTF_8) }
  }

  /** Run a streaming-executable job; returns the sink directory. */
  def run(spark: SparkSession, job: JobSpec): String = {
    pipe(shuffle(mapStage(spark, job), job.numReducers), job.reducerExecutable)
      .saveAsTextFile(job.outputDirectory)
    job.outputDirectory
  }

  /** Run a job with native Scala map/reduce stages under the same dataflow
    * contract: mapper = one input line → zero or more `key\tvalue` lines;
    * reducer = the whole-line-sorted partition stream → output lines. */
  def runNative(
      spark: SparkSession,
      job: JobSpec,
      mapper: String => IterableOnce[String],
      reducer: Iterator[String] => Iterator[String]): String = {
    val mapped = spark.sparkContext
      .textFile(job.inputDirectory, math.max(job.numMappers, 1))
      .flatMap(mapper)
    shuffle(mapped, job.numReducers)
      .mapPartitions(reducer)
      .saveAsTextFile(job.outputDirectory)
    job.outputDirectory
  }
}
