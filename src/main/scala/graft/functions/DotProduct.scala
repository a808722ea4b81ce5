package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function

/** Codegen'd dot product over `ArrayType(FloatType)` /
  * `ArrayType(DoubleType)` columns (each side independently) — the
  * similarity-join hot-path kernel. [[CosineSim]] recomputes both vector
  * norms per PAIR; in an n² join the norms are loop-invariant per row, so
  * the fast formulation precomputes `sqrt(dot(v,v))` once per row and pays
  * only this single fused multiply-add loop per pair:
  * `cos = dot(a,b) / (a_norm * b_norm)` — bit-identical to CosineSim
  * because the accumulation order and the `sqrt(na)*sqrt(nb)` product are
  * the same IEEE operations.
  */
case class DotProduct(left: Expression, right: Expression)
    extends VecPair {

  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xf = isFloat(left.dataType)
    val yf = isFloat(right.dataType)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      val xv = elem(x, xf, i)
      val yv = elem(y, yf, i)
      dot += xv * yv
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |double ${ev.value}_dot = 0.0;
         |int ${ev.value}_n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int i = 0; i < ${ev.value}_n; i++) {
         |  ${ev.value}_dot += ${elemCode(a, left.dataType)} * ${elemCode(b, right.dataType)};
         |}
         |${ev.value} = ${ev.value}_dot;
       """.stripMargin
    })
}

object DotProduct {
  val registration: FnReg.Registration = FnReg.make(
    "dot_product", classOf[DotProduct], arity = 2,
    c => DotProduct(c(0), c(1)))

  /** Column API: `dotProduct(a, b)`. */
  def apply(spark: SparkSession, a: Column, b: Column): Column = {
    FnReg.ensure(spark, registration)
    call_function("dot_product", a, b)
  }
}
