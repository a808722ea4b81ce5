package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards `src/main/scala` and the scale-law harness (the `ScaleLaw*`
  * files, StreamKillMain and StreamingSpec) against copied code: fails on
  * any run of at least [[DuplicateRuns.MinLines]] consecutive lines,
  * totalling at least [[DuplicateRuns.MinChars]] characters, that
  * appears twice. Lines are
  * compared after whitespace collapse; blank, comment, `import` and
  * `package` lines are skipped. A shared body belongs in one `private
  * def` or `val` of the owning module, parameterized by what differs. */
class DuplicateRunsSpec extends AnyFunSuite {

  private def noRuns(runs: Seq[DuplicateRuns.Run]): Unit =
    if (runs.nonEmpty)
      fail(s"${runs.size} copied runs (fold each into one definition):\n" +
        runs.mkString("\n"))

  test("no copied run of 8+ lines in src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    noRuns(DuplicateRuns.scan(root))
  }

  test("no copied run of 8+ lines in the scale-law harness") {
    val root = Paths.get("src/test/scala")
    assert(Files.exists(root.resolve("graft/ScaleLaws.scala")),
      s"run from the repo root: $root")
    noRuns(DuplicateRuns.scan(root, p =>
      Seq("ScaleLaw", "StreamKillMain", "StreamingSpec")
        .exists(p.getFileName.toString.startsWith)))
  }

  test("the scan finds a planted copy and ignores comments and imports") {
    val dir = Files.createTempDirectory("dupruns")
    val body = (1 to 8).map(i =>
      s"    val column$i = someFrame.select(col(\"c$i\")).distinct()")
    Files.write(dir.resolve("A.scala"),
      (Seq("package x", "import y._", "object A {") ++ body :+ "}").asJava)
    Files.write(dir.resolve("B.scala"),
      (Seq("package x", "object B {", "  // a comment line") ++
        body.map("  " + _) :+ "} // B").asJava)
    val runs = DuplicateRuns.scan(dir)
    assert(runs.map(r => (r.lines, r.a.toString, r.b.toString)) ==
      Seq((8, "A.scala:4", "B.scala:4")), runs)
    // one line short of the minimum is not a run
    Files.write(dir.resolve("B.scala"), body.take(7).asJava)
    assert(DuplicateRuns.scan(dir).isEmpty)
  }
}

object DuplicateRuns {
  val MinLines = 8
  val MinChars = 150

  final case class Loc(file: String, line: Int) {
    override def toString = s"$file:$line"
  }

  /** `lines` identical lines at `a` and again at `b`. */
  final case class Run(lines: Int, chars: Int, a: Loc, b: Loc) {
    override def toString = s"$lines lines ($chars chars): $a and $b"
  }

  private def skipped(l: String): Boolean =
    l.isEmpty || l.startsWith("//") || l.startsWith("/*") ||
      l.startsWith("*") || l.startsWith("import ") || l.startsWith("package ")

  /** Every maximal copied run among the `.scala` files under `root` that
    * `include` keeps, one per pair of copies. */
  def scan(root: Path, include: Path => Boolean = _ => true): Seq[Run] = {
    val files = Files.walk(root).iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && include(f))
      .toSeq.sortBy(_.toString)
    // per file: (whitespace-collapsed text, 1-based line number)
    val code: IndexedSeq[(String, IndexedSeq[(String, Int)])] =
      files.map { f =>
        root.relativize(f).toString ->
          Files.readAllLines(f).asScala.toIndexedSeq.zipWithIndex
            .map { case (l, i) => (l.trim.split("\\s+").mkString(" "), i + 1) }
            .filterNot(l => skipped(l._1))
      }.toIndexedSeq
    def at(f: Int, i: Int): Option[String] =
      code(f)._2.lift(i).map(_._1)
    def loc(f: Int, i: Int) = Loc(code(f)._1, code(f)._2(i)._2)
    val occurrences = (for {
      ((_, ls), f) <- code.zipWithIndex
      (l, i) <- ls.map(_._1).zipWithIndex
    } yield l -> (f, i)).groupMap(_._1)(_._2)

    (for {
      occ <- occurrences.valuesIterator if occ.sizeIs > 1
      Seq((fa, ia), (fb, ib)) <- occ.combinations(2)
      // only maximal runs: the line before must differ
      if at(fa, ia - 1).isEmpty || at(fa, ia - 1) != at(fb, ib - 1)
      n = Iterator.from(0).takeWhile { k =>
        at(fa, ia + k).isDefined && at(fa, ia + k) == at(fb, ib + k) &&
          !(fa == fb && ia + k >= ib)
      }.size
      if n >= MinLines
      chars = (0 until n).map(k => code(fa)._2(ia + k)._1.length).sum
      if chars >= MinChars
    } yield Run(n, chars, loc(fa, ia), loc(fb, ib)))
      .toSeq.sortBy(r => (r.a.file, r.a.line, r.b.file, r.b.line))
  }
}
