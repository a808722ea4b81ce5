package graft.plans

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.Partitioner

/** Hash partitioning with the reference engine's exact assignment rule:
  * `partition = int(md5(key_utf8).hexdigest(), 16) % num_partitions`
  * (reference mapreduce/worker/__main__.py:105-109).
  *
  * Spark's default `HashPartitioner` uses `hashCode % n`, so a custom
  * [[Partitioner]] is required for part-file-level output parity with the
  * reference. MD5-mod is uniform, stable across JVMs and languages, and —
  * unlike `hashCode` — well-defined for empty keys (blank lines are real
  * keys, reference tests/test_worker_04.py:109-115).
  */
object Md5 {
  // getPartition is the shuffle write's per-record hot path: reuse the
  // digest per thread and fold the modulus with Horner's rule instead of
  // allocating a MessageDigest + BigInts per record.
  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** The per-thread reset digest, for other per-row MD5 hot paths
    * (SimHash32) — a `MessageDigest.getInstance` is a JCA provider lookup
    * plus allocation per call. */
  private[graft] def threadDigest(): MessageDigest = {
    val md = digests.get()
    md.reset()
    md
  }

  /** Non-negative MD5(key) mod n, bit-identical to Python's
    * `int(hexdigest, 16) % n`. */
  def mod(key: String, n: Int): Int =
    mod(key.getBytes(StandardCharsets.UTF_8), n)

  def mod(key: Array[Byte], n: Int): Int = mod(key, key.length, n)

  /** MD5 of `key(0 until len)` mod n, hashed in place. */
  def mod(key: Array[Byte], len: Int, n: Int): Int = {
    val md = threadDigest()
    md.update(key, 0, len)
    val digest = md.digest()
    var r = 0L
    var i = 0
    while (i < digest.length) {
      r = ((r << 8) | (digest(i) & 0xffL)) % n
      i += 1
    }
    r.toInt
  }

  /** The record key of a raw `key\tvalue` line: everything before the first
    * tab, or the whole line when no tab is present — `line.split("\t")[0]`
    * semantics (reference mapreduce/worker/__main__.py:105). Note the
    * reference extracts from the line WITH its trailing newline, so a
    * tab-less line hashes with the `\n` included; callers pass the raw
    * newline-terminated line for exact parity.
    */
  def lineKey(line: String): String = {
    val i = line.indexOf('\t')
    if (i >= 0) line.substring(0, i) else line
  }
}

/** Partitioner over raw shuffle lines (newline-terminated): extracts the
  * tab-delimited key, then MD5-mod assigns the partition.
  */
final class Md5LinePartitioner(n: Int) extends Partitioner {
  require(n > 0, s"numPartitions must be positive: $n")
  override def numPartitions: Int = n
  override def getPartition(key: Any): Int =
    Md5.mod(Md5.lineKey(key.asInstanceOf[String]), n)
  override def equals(other: Any): Boolean = other match {
    case o: Md5LinePartitioner => o.numPartitions == n
    case _                     => false
  }
  override def hashCode: Int = n
}

/** Same assignment over UTF-8 line BYTES (the shuffle key used by
  * [[graft.operators.MapReduce.shuffle]] for Python sort-order parity):
  * hashes the key, the bytes before the first tab (0x09) or the whole
  * line when absent, in place. */
final class Md5BytesPartitioner(n: Int) extends Partitioner {
  require(n > 0, s"numPartitions must be positive: $n")
  override def numPartitions: Int = n
  override def getPartition(key: Any): Int = {
    val line = key.asInstanceOf[Array[Byte]]
    var i = 0
    while (i < line.length && line(i) != '\t') i += 1
    Md5.mod(line, i, n)
  }
  override def equals(other: Any): Boolean = other match {
    case o: Md5BytesPartitioner => o.numPartitions == n
    case _                      => false
  }
  override def hashCode: Int = n
}

/** Unsigned lexicographic byte order. Over UTF-8 this equals Unicode
  * code-point order — i.e. Python's string sort — whereas Java String
  * ordering compares UTF-16 code units and ranks supplementary-plane
  * characters (surrogates, 0xD800-) below some BMP characters. */
object UnsignedBytesOrdering extends Ordering[Array[Byte]] {
  override def compare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }
}

/** Order of keys `k` as [[UnsignedBytesOrdering]] orders the UTF-8 bytes of
  * `k + "\t"` — the order the shuffle sorts `k\tvalue\n` lines in — with no
  * encoding or allocation. UTF-8 byte order is code-point order, so chars
  * compare as UTF-16 units with the surrogate fix-up (surrogates rank above
  * U+E000..U+FFFF); the `\t` is a virtual char past each key's end, which
  * ranks `a\u0001` (0x01 < 0x09) below `a`. */
object Utf8TabKeyOrdering extends Ordering[String] {
  override def compare(a: String, b: String): Int = {
    val n = math.min(a.length, b.length) + 1
    var i = 0
    while (i < n) {
      var x: Int = if (i < a.length) a.charAt(i) else '\t'
      var y: Int = if (i < b.length) b.charAt(i) else '\t'
      if (x != y) {
        if (x >= 0xd800 && y >= 0xd800) {
          x = if (x >= 0xe000) x - 0x800 else x + 0x2000
          y = if (y >= 0xe000) y - 0x800 else y + 0x2000
        }
        return x - y
      }
      i += 1
    }
    a.length - b.length
  }
}
