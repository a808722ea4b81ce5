package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** The shape [[CosineSim]] and [[DotProduct]] share: two
  * `ArrayType(FloatType)` / `ArrayType(DoubleType)` children (each side
  * independently), a double result, elements read widened to double.
  * Each kernel keeps its own `nullSafeEval` and `doGenCode` loop.
  */
private[graft] abstract class VecPair extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _                                                  => false
  }

  protected def isFloat(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    if (Seq(left, right).forall(e => elemOk(e.dataType)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double> inputs, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  /** Element `i` of an array, widened to double. */
  protected def elem(arr: ArrayData, float: Boolean, i: Int): Double =
    if (float) arr.getFloat(i).toDouble else arr.getDouble(i)

  /** Generated Java for element `i` of array `arr`, widened to double. */
  protected def elemCode(arr: String, dt: DataType): String =
    if (isFloat(dt)) s"(double) $arr.getFloat(i)" else s"$arr.getDouble(i)"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    makeCopy(Array(newLeft, newRight))
}
