package graft.plans

import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, SubqueryExpression}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Sort a global `ORDER BY` over a driver-side `LocalRelation` on the
  * driver.
  *
  * Catalog probes (`system.tables`/`columns`/`databases`, the Play UI's
  * table list) answer from a `LocalRelation` of a few dozen rows, and
  * Spark's constant folding (`ConvertToLocalRelation`) folds their
  * filters and projections into it — but not the sort. Planned as a
  * physical sort, that ORDER BY becomes a range-partition sample job
  * plus the sort's own stages: 3 jobs and ~150 ms for 20 rows on a
  * 4-core machine. Sorting the rows already in driver memory costs
  * microseconds and leaves a `LocalRelation`, whose collect runs no job.
  *
  * `InterpretedOrdering` is the comparison Spark's sort uses (SQL
  * order, NULLS FIRST/LAST, NaN greatest); the JDK sort is stable, so
  * ties keep their input order. Order keys must be deterministic and
  * subquery-free (those cannot be evaluated row by row here).
  */
object LocalSort extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    val sorted = plan.transformUp {
      case Sort(order, true, rel: LocalRelation, _)
          if !rel.isStreaming &&
            order.forall(o => o.deterministic && !SubqueryExpression.hasSubquery(o)) =>
        val ordering = new InterpretedOrdering(order, rel.output)
        rel.copy(data = rel.data.sorted(ordering))
    }
    // fold what sat above the sort (the projection that drops a
    // sort-only key, a LIMIT) into the relation too: a physical Project
    // over the local scan would run a job again
    if (sorted eq plan) plan else ConvertToLocalRelation(sorted)
  }
}
