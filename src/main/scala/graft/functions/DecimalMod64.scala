package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DecimalType, LongType}
import org.apache.spark.sql.types.Decimal

/** The unscaled value of a DECIMAL(20,0) reduced mod 2^64 into a raw
  * two's-complement long.
  *
  * DECIMAL(20,0) is this engine's physical type for ClickHouse UInt64
  * (ChFunctions type map); the UInt64 domain contract is value < 2^64,
  * on which this mapping is INJECTIVE — two distinct UInt64 values
  * always produce two distinct longs, at any corpus scale (unlike a
  * 64-bit hash of a string, which collides at birthday scale). That
  * makes it safe under COUNT(DISTINCT ...): the count over the longs
  * equals the count over the decimals (see
  * [[graft.plans.UInt64DistinctNarrow]]).
  *
  * Outside that domain the mapping collides: DECIMAL(20,0) also holds
  * negatives and values in [2^64, 1e20), and −1 and 2^64−1 both map to
  * −1L. The user-callable `decimalMod64` does not check its input, so a
  * distinct count over it is exact only for keys known to be UInt64.
  */
case class DecimalMod64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case dt: DecimalType if dt.scale == 0 => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"decimalMod64 requires a scale-0 DECIMAL input, got ${dt.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "decimalMod64"

  override protected def nullSafeEval(input: Any): Any =
    DecimalMod64.toRawLong(input.asInstanceOf[Decimal])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.DecimalMod64.toRawLong($c)")

  override protected def withNewChildInternal(newChild: Expression): DecimalMod64 =
    copy(child = newChild)
}

object DecimalMod64 {
  /** Static so generated code can call it. BigInteger.longValue() is
    * defined as the low-order 64 bits — exactly the mod-2^64 mapping. */
  def toRawLong(d: Decimal): Long =
    d.toJavaBigDecimal.unscaledValue().longValue()
}
