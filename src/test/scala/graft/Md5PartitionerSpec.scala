package graft

import java.nio.charset.StandardCharsets.UTF_8
import scala.sys.process._
import scala.util.Random

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MapReduce
import graft.plans.{Md5, Md5BytesPartitioner, Md5LinePartitioner,
  UnsignedBytesOrdering, Utf8TabKeyOrdering}

/** Property tests for the MD5 partitioner against the reference rule
  * `int(md5(key.encode("utf-8")).hexdigest(), 16) % n`
  * (reference mapreduce/worker/__main__.py:105-109; empty-key semantics
  * per tests/test_worker_04.py:109-115). Expected values come from running
  * the actual Python expression.
  */
class Md5PartitionerSpec extends AnyFunSuite {

  /** Compute the reference's partition assignment in actual Python. */
  private def pythonMd5Mod(keys: Seq[String], n: Int): Seq[Int] = {
    val script =
      s"""import hashlib, sys
         |n = $n
         |for key in sys.stdin.read().split("\\x00")[:-1]:
         |    print(int(hashlib.md5(key.encode("utf-8")).hexdigest(), 16) % n)
         |""".stripMargin
    val input = keys.map(_ + "\u0000").mkString
    val out = (Seq("python3", "-c", script) #<
      new java.io.ByteArrayInputStream(input.getBytes("UTF-8"))).!!
    out.trim.split("\n").toSeq.map(_.toInt)
  }

  test("matches Python md5 % n on edge-case keys (empty, unicode, tabs)") {
    val keys = Seq("", "a", "the", "product", "hello world", "naïve",
      "日本語", "x" * 300, "0", "-1", "ключ", "line\nwith\nnewlines")
    for (n <- Seq(1, 2, 3, 7, 64)) {
      val expected = pythonMd5Mod(keys, n)
      val got = keys.map(Md5.mod(_, n))
      assert(got == expected, s"mismatch at n=$n")
    }
  }

  test("matches Python on 200 random keys at random moduli") {
    val rnd = new Random(42)
    val keys = Seq.fill(200)(rnd.alphanumeric.take(rnd.nextInt(30)).mkString)
    for (n <- Seq.fill(5)(rnd.nextInt(99) + 1)) {
      assert(keys.map(Md5.mod(_, n)) == pythonMd5Mod(keys, n),
        s"mismatch at n=$n")
    }
  }

  test("partition assignment is total, in range, and stable") {
    val rnd = new Random(7)
    (1 to 500).foreach { _ =>
      val key = rnd.alphanumeric.take(rnd.nextInt(20)).mkString
      val n = rnd.nextInt(100) + 1
      val p = Md5.mod(key, n)
      assert(p >= 0 && p < n)
      assert(p == Md5.mod(key, n))
    }
  }

  test("line-key extraction matches split-on-first-tab semantics") {
    assert(Md5.lineKey("foo\tbar\n") == "foo")
    assert(Md5.lineKey("foo\tbar\tbaz\n") == "foo")
    assert(Md5.lineKey("\t1\n") == "")
    assert(Md5.lineKey("notab\n") == "notab\n") // newline stays, as in Python
    assert(Md5.lineKey("") == "")
  }

  test("partitioner groups equal keys together regardless of value") {
    val part = new Md5LinePartitioner(8)
    assert(part.getPartition("key\tvalue1\n") == part.getPartition("key\tvalue2\n"))
  }

  private def check(prop: Prop, cases: Int): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(cases).withInitialSeed(Seed(11L)), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(1)))
  }

  /** Valid text weighted toward the boundaries the orderings care about:
    * controls around `\t`, ASCII, U+E000..U+FFFF, surrogate pairs. */
  private val codePoint: Gen[Int] = Gen.frequency(
    3 -> Gen.choose(0, 0x10), 1 -> Gen.const('\t'.toInt),
    1 -> Gen.const('\r'.toInt), 4 -> Gen.choose(0x20, 0x7e),
    2 -> Gen.choose(0x80, 0xd7ff), 2 -> Gen.choose(0xe000, 0xffff),
    3 -> Gen.choose(0x10000, 0x10ffff))
  private val text: Gen[String] = Gen.listOf(codePoint)
    .map(cps => new String(cps.toArray, 0, cps.length))

  test("word ordering agrees with unsigned byte order of word + tab (property)") {
    val sign = (x: Int) => Integer.signum(x)
    val bytes = (k: String) => (k + "\t").getBytes(UTF_8)
    // a shared prefix makes most pairs differ deep inside the strings
    val pairs = for (p <- text; a <- text; b <- text) yield (p + a, p + b)
    check(Prop.forAll(pairs) { case (a, b) =>
      sign(Utf8TabKeyOrdering.compare(a, b)) ==
        sign(UnsignedBytesOrdering.compare(bytes(a), bytes(b)))
    }, 2000)
  }

  test("in-place key hash equals md5 mod n of the bytes before the first tab (property)") {
    val line = Gen.listOf(Gen.frequency(1 -> Gen.const('\t'.toByte),
      4 -> Gen.choose(Byte.MinValue, Byte.MaxValue))).map(_.toArray)
    val edge = Gen.oneOf(Array.emptyByteArray, "notab".getBytes(UTF_8),
      "\tlead".getBytes(UTF_8), "k\tv\tw\t".getBytes(UTF_8))
    check(Prop.forAll(Gen.oneOf(line, edge), Gen.choose(1, 100)) { (l, n) =>
      new Md5BytesPartitioner(n).getPartition(l) ==
        Md5.mod(l.takeWhile(_ != '\t'), n)
    }, 1000)
  }

  test("lines with \\r and non-ASCII text survive the byte shuffle (property)") {
    // one Spark job per case: a few cases of many lines each
    val sc = TestSpark.spark.sparkContext
    check(Prop.forAll(Gen.listOfN(200, text)) { lines =>
      val parts = MapReduce.shuffle(sc.parallelize(lines, 3), 4).glom().collect()
      val bytes = (l: String) => (l + "\n").getBytes(UTF_8)
      parts.flatten.toSeq.sorted == lines.sorted &&
        parts.zipWithIndex.forall { case (p, i) =>
          p.forall(l => Md5.mod(Md5.lineKey(l + "\n"), 4) == i) &&
            p.map(bytes).sliding(2).forall(w =>
              w.length < 2 || UnsignedBytesOrdering.compare(w(0), w(1)) <= 0)
        }
    }, 8)
  }
}
