package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every exact scale law ([[ScaleLaws]]) at sf0.001 ×3, in the shared
  * session: a ×3 corpus must give exactly the ×3 blow-up of the base
  * answers. The shape laws need ×10 and above; ScaleLawMain runs them. */
class ScaleLawSpec extends AnyFunSuite {

  private val src = "/root/testdata/sf0.001"
  private lazy val run = new ScaleLaws.Run(TestSpark.spark, src, 3,
    operators.Scratch.fresh("scale-laws"), shapes = false)

  for ((g, _) <- ScaleLaws.groups)
    test(s"scale laws '$g' hold at sf0.001 ×3") {
      val laws = run.runGroup(g)
      laws.foreach(l => info(l.toString))
      assert(laws.nonEmpty && laws.forall(_.exact), laws)
      val failed = laws.filter(_.failure.isDefined)
      assert(failed.isEmpty, failed.mkString("\n", "\n", ""))
    }

  test("a law fails when one row of its blown corpus changes") {
    val s = TestSpark.spark
    val r = new ScaleLaws.Run(s, src, 3, operators.Scratch.fresh("mutant"),
      shapes = false)
    val dir = r.corpus(3, "documents")
    ScaleLaws.exactFamilies(r, dir)
    // copy 2 of doc 0 gets a text of its own: its family shrinks by one
    val victim = 2 * r.off("documents", "doc_id")
    s.read.parquet(s"$dir/documents.parquet")
      .withColumn("text", when(col("doc_id") === victim,
        concat(col("text"), lit(" mutant"))).otherwise(col("text")))
      .write.parquet(s"${r.work}/mutant/documents.parquet")
    ScaleLaws.exactFamilies(r, s"${r.work}/mutant")
    assert(r.laws.map(_.failure.isDefined) == Seq(false, true), r.laws)
  }
}
