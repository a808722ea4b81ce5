package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownLimit,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{And, EqualTo, Filter, In, IsNotNull,
  Not, Or, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 connector for the reference engine's native "table": a
  * directory of text files, one record per line, with file provenance
  * (reference manager/__main__.py:257-259 — `sorted(Path(dir).glob("*"))`
  * feeding line-oriented mappers).
  *
  * ```scala
  * spark.read.format("graft.sources.TextDirSource").load(dir)
  *   // => (file: string, line: string)
  * ```
  *
  * Spark-first shape:
  *  - one InputPartition PER FILE, listed in sorted order (D1 semantics;
  *    hidden/`_SUCCESS`-style entries skipped per Hadoop convention) —
  *    at scale each file reads independently on its executor, nothing
  *    touches the driver except the listing;
  *  - SupportsPushDownRequiredColumns: `select(count(line))`-style plans
  *    prune `file` (or read NO columns for a bare count) — the reader
  *    consults the pruned schema instead of always materializing both;
  *  - readers stream line-by-line through a BufferedReader — the memory
  *    profile is one line, matching the reference's streaming budget.
  */
class TextDirSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TextDirSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TextDirTable(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft.sources.TextDirSource requires .load(path)")))
}

object TextDirSource {
  val Schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("line", StringType, nullable = false)))

  /** Format name for `spark.read.format(...)`. */
  val Name: String = classOf[TextDirSource].getName

  /** Structural check: can [[evalOnFile]] decide this filter per file?
    * Only filters that reference nothing but the `file` column qualify —
    * anything touching `line` (or an unknown filter class) stays
    * post-scan. */
  private[sources] def pushable(f: Filter): Boolean = f match {
    case EqualTo("file", _)          => true
    case In("file", _)               => true
    case StringStartsWith("file", _) => true
    case StringEndsWith("file", _)   => true
    case StringContains("file", _)   => true
    case IsNotNull("file")           => true
    case And(l, r)                   => pushable(l) && pushable(r)
    case Or(l, r)                    => pushable(l) && pushable(r)
    case Not(c)                      => pushable(c)
    case _                           => false
  }

  /** Evaluate a pushed-down filter against a candidate FILE PATH with SQL
    * THREE-VALUED logic (None = NULL/unknown). `file` is constant per
    * partition, so a file-column predicate decides a whole file at
    * PLANNING time — the DSv2 analog of partition pruning (a
    * `file LIKE '%.txt'` scan never even opens the other files). The NULL
    * cases matter: `NOT IN (..., NULL)` must evaluate to NULL (row
    * dropped), not to the two-valued complement — a WHERE clause keeps a
    * row only when the predicate is definitely true. */
  private[sources] def evalOnFile(f: Filter, path: String): Option[Boolean] =
    f match {
      case EqualTo("file", v: String) => Some(path == v)
      case EqualTo("file", _)         => None // = NULL is never true
      case In("file", vs) =>
        if (vs.exists(v => v != null && v == path)) Some(true)
        else if (vs.contains(null)) None // x IN (..., NULL) miss ⇒ NULL
        else Some(false)
      case StringStartsWith("file", v) => Some(path.startsWith(v))
      case StringEndsWith("file", v)   => Some(path.endsWith(v))
      case StringContains("file", v)   => Some(path.contains(v))
      case IsNotNull("file")           => Some(true) // never null
      case And(l, r) =>
        (evalOnFile(l, path), evalOnFile(r, path)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true))            => Some(true)
          case _                                   => None
        }
      case Or(l, r) =>
        (evalOnFile(l, path), evalOnFile(r, path)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false))        => Some(false)
          case _                                 => None
        }
      case Not(c) => evalOnFile(c, path).map(!_)
      case _      => None
    }
}

private[sources] class TextDirTable(path: String)
    extends Table with SupportsRead {

  override def name(): String = s"textdir($path)"
  override def schema(): StructType = TextDirSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new TextDirScanBuilder(path)
}

private[sources] class TextDirScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit {

  private var required: StructType = TextDirSource.Schema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, rest) = filters.partition(TextDirSource.pushable)
    pushed = sup
    // file-column predicates are decided EXACTLY at planning (the column
    // is constant per file), so only the undecidable rest stays post-scan
    rest
  }

  override def pushedFilters(): Array[Filter] = pushed

  // PARTIAL limit pushdown (isPartiallyPushed stays at its default true,
  // so Spark keeps its own global Limit): each per-file reader stops
  // after `limit` lines — a LIMIT 100 over a directory of 10 GB files
  // reads ≤100 lines per file instead of every byte of every file
  override def pushLimit(l: Int): Boolean = {
    limit = Some(l)
    true
  }

  override def build(): Scan = new TextDirScan(path, required, pushed, limit)
}

private[sources] class TextDirScan(
    path: String, required: StructType, pushed: Array[Filter],
    limit: Option[Int])
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"textdir($path) columns=${required.fieldNames.mkString(",")}" +
      (if (pushed.isEmpty) ""
       else s" pushed=[${pushed.mkString(", ")}]") +
      limit.map(l => s" limit=$l").getOrElse("")

  override def planInputPartitions(): Array[InputPartition] = {
    // D1: the MapReduce listing, then prune whole files against the
    // pushed file-column predicates
    graft.operators.MapReduce
      .listInputs(org.apache.spark.sql.SparkSession.active, path)
      // keep a file only when EVERY pushed predicate is definitely true —
      // NULL/unknown (None) drops the row, per SQL WHERE semantics
      .filter(f => pushed.forall(
        TextDirSource.evalOnFile(_, f).contains(true)))
      .map(f => TextDirInputPartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    new TextDirReaderFactory(required,
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
      limit)
  }
}

private[sources] case class TextDirInputPartition(file: String)
    extends InputPartition

private[sources] class TextDirReaderFactory(
    required: StructType,
    conf: SerializableConfiguration,
    limit: Option[Int]) extends PartitionReaderFactory {

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[TextDirInputPartition].file
    new PartitionReader[InternalRow] {
      private val path = new Path(file)
      private val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        path.getFileSystem(conf.value).open(path),
        java.nio.charset.StandardCharsets.UTF_8))
      private val fileUtf8 = UTF8String.fromString(file)
      // ordinal plan per pruned column: 0 = file, 1 = line
      private val cols = required.fieldNames.map {
        case "file" => 0
        case "line" => 1
      }
      private var current: String = _
      private var emitted = 0
      // the projection layout is CONSTANT for the whole partition: reuse
      // one row buffer and precompute which ordinal (if any) carries the
      // line — get() is the innermost scan loop, and a per-row Seq +
      // boxed mapping was pure garbage
      private val row = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(cols.length)
      private val lineOrdinals = cols.indices.filter(i => cols(i) == 1)
      locally {
        cols.indices.foreach(i => if (cols(i) == 0) row.update(i, fileUtf8))
      }

      override def next(): Boolean = {
        // pushed LIMIT: this partition can contribute at most `limit`
        // rows to the global (Spark-side) limit — stop reading the file
        if (limit.exists(emitted >= _)) return false
        current = in.readLine()
        emitted += 1
        current != null
      }

      override def get(): InternalRow = {
        lineOrdinals.foreach(i =>
          row.update(i, UTF8String.fromString(current)))
        row
      }

      override def close(): Unit = in.close()
    }
  }
}
