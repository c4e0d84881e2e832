package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Dot product of two ARRAY<DOUBLE> columns with the exact semantics of
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)`
  * — the interpreted-HOF spelling the similarity operators used (r16):
  * identical left-to-right fold order (bit-identical doubles, which the
  * DuckDB oracle parity depends on), and NULL whenever the lengths
  * differ or any element is null (zip_with pads with null; acc + null
  * is null). Codegen'd via a static helper like [[Md5Prefix60]]; one
  * primitive loop per call instead of two boxed array allocations and
  * an interpreted lambda per element.
  *
  * Two ARRAY<FLOAT> inputs are accepted too: each product is computed
  * on the widened doubles and accumulated in DOUBLE. That is the
  * pruning score of the two-phase exact near-dup scan
  * ([[graft.operators.CosineKnn.nearDupPairs]]): for unit vectors it
  * differs from the exact double dot by at most Σ|x_i||y_i| · 2^-23 ≤
  * 1.2e-7 (inputs are float32-rounded copies of unit-vector
  * components), so pruning at threshold − 1e-3 can never drop a true
  * pair — survivors are re-verified exactly.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) |
           (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "vecDot requires two ARRAY<DOUBLE> or two ARRAY<FLOAT> inputs, got " +
          s"${l.simpleString}, ${r.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vecDot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("vecDotR")
      s"""
      java.lang.Double $r = graft.functions.VecDot.dot($a, $b, $isFloat);
      if ($r == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = $r.doubleValue();
      }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  /** Static for generated code. Returns null (boxed) when lengths
    * differ or an element is null — matching the zip_with + fold
    * spelling; otherwise the strict left-to-right sum of products,
    * float elements widened to double before multiplying. */
  def dot(a: ArrayData, b: ArrayData, float: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s +=
        (if (float) a.getFloat(i).toDouble * b.getFloat(i).toDouble
         else a.getDouble(i) * b.getDouble(i))
      i += 1
    }
    java.lang.Double.valueOf(s)
  }
}
