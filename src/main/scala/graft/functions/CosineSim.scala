package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function

/** Native Catalyst expression for cosine similarity over
  * `ArrayType(FloatType)` / `ArrayType(DoubleType)` columns (each side
  * independently — float embeddings score against exact double centroids
  * without a lossy cast) — the operator the built-in function library
  * lacks (SURVEY.md §2.4 LLM-pipeline row).
  *
  * Why an Expression and not a UDF: `doGenCode` emits a primitive loop
  * directly into whole-stage codegen — no boxing of 64-float arrays into
  * `WrappedArray`, no SerDe per row, and the expression stays inside the
  * WholeStageCodegen span instead of breaking it. Accumulation is
  * left-to-right in double precision, matching both the higher-order-
  * function formulation and DuckDB's list functions, so oracle comparisons
  * stay exact at 6 decimals.
  */
case class CosineSim(left: Expression, right: Expression)
    extends VecPair {

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xf = isFloat(left.dataType)
    val yf = isFloat(right.dataType)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = elem(x, xf, i)
      val yv = elem(y, yf, i)
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |double ${ev.value}_dot = 0.0, ${ev.value}_na = 0.0, ${ev.value}_nb = 0.0;
         |int ${ev.value}_n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int i = 0; i < ${ev.value}_n; i++) {
         |  double xv = ${elemCode(a, left.dataType)};
         |  double yv = ${elemCode(b, right.dataType)};
         |  ${ev.value}_dot += xv * yv;
         |  ${ev.value}_na += xv * xv;
         |  ${ev.value}_nb += yv * yv;
         |}
         |${ev.value} = ${ev.value}_dot /
         |  (java.lang.Math.sqrt(${ev.value}_na) * java.lang.Math.sqrt(${ev.value}_nb));
       """.stripMargin
    })
}

object CosineSim {
  val registration: FnReg.Registration = FnReg.make(
    "cosine_sim", classOf[CosineSim], arity = 2,
    c => CosineSim(c(0), c(1)))

  /** Idempotently register `cosine_sim` in a session's function registry. */
  def ensureRegistered(spark: SparkSession): Unit =
    FnReg.ensure(spark, registration)

  /** Column API: `cosineSim(a, b)`. */
  def apply(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark)
    call_function("cosine_sim", a, b)
  }
}
