package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.DecimalType
import graft.functions.DecimalMod64

/** Narrow COUNT(DISTINCT <uint64>) keys from DECIMAL(20,0) to raw
  * longs (r16, guide §2.3 "narrower types").
  *
  * DECIMAL(20,0) is the engine's physical type for ClickHouse UInt64
  * (precision 20 > 18, so Spark stores and hash-aggregates it as a
  * byte-array-backed Decimal — every distinct-hash probe walks a
  * BigDecimal). The ClickBench sweep's heaviest aggregates
  * (cb04/08/09/10/11/13/22: COUNT(DISTINCT UserID)) pay that on every
  * row. Under the UInt64 domain contract (values < 2^64) the unscaled
  * mod-2^64 mapping [[DecimalMod64]] is injective, so the distinct
  * COUNT over the 8-byte longs is identical — and the aggregate's
  * declared output (a BIGINT count) never mentions the key type, so
  * the result schema is untouched. Group-by keys that APPEAR in the
  * output (cb15-cb18's UserID column) are deliberately left alone:
  * the decimal(20,0) output contract wins there.
  *
  * DECIMAL(20,0) itself admits negatives and values in [2^64, 1e20),
  * where the mapping collides (−1 and 2^64−1 both become −1L). So a key
  * is narrowed only where its domain is known: it is a column of a
  * graft table (whose DECIMAL(20,0) columns are declared UInt64), or
  * of a driver-side relation whose every value lies in [0, 2^64), read
  * below the aggregate with no Union merging other rows into it. A
  * computed key (`CAST(x AS UInt64)`, arithmetic) is left as it is.
  *
  * Runs in the user-provided optimizer batch, which executes before
  * physical distinct-aggregate planning for single-distinct plans and
  * before RewriteDistinctAggregates has any multi-distinct work to do
  * on these shapes.
  */
object UInt64DistinctNarrow extends Rule[LogicalPlan] {
  private val UInt64 = DecimalType(20, 0)
  private val TwoTo64 = java.math.BigInteger.ONE.shiftLeft(64)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case a: Aggregate if !a.child.exists(_.isInstanceOf[Union]) =>
      lazy val known = uint64Columns(a.child)
      a.transformExpressions {
        case ae @ AggregateExpression(Count(children), _, true, _, _)
            if children.nonEmpty && children.forall {
              case c: AttributeReference => c.dataType == UInt64 && known.contains(c)
              case _ => false
            } =>
          ae.copy(aggregateFunction = Count(children.map(DecimalMod64)))
      }
  }

  /** DECIMAL(20,0) columns of `p`'s relations known to hold UInt64
    * values. */
  private def uint64Columns(p: LogicalPlan): AttributeSet = AttributeSet(p.collectLeaves().flatMap {
    case r: LogicalRelation if r.catalogTable.isDefined => r.output.filter(_.dataType == UInt64)
    case l: LocalRelation =>
      l.output.zipWithIndex.collect {
        case (c, i) if c.dataType == UInt64 && l.data.forall(row => row.isNullAt(i) || {
          val v = row.getDecimal(i, 20, 0).toJavaBigDecimal.toBigIntegerExact
          v.signum >= 0 && v.compareTo(TwoTo64) < 0
        }) => c
      }
    case _ => Nil
  })
}
