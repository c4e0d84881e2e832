package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Standard Spark plug-in point: build sessions with
  * `spark.sql.extensions=graft.GraftExtensions` and every ClickHouse
  * dialect function is registered at session construction — no
  * explicit `ChFunctions.register` call needed. This is how the
  * library deploys onto an existing cluster's sessions (SURVEY §7:
  * extension-based registration instead of code changes).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.dialect.ChFunctions.injectInto(ext)
    GraftExtensions.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}

object GraftExtensions {
  /** Every graft optimizer rule, in order. Extension-built sessions get
    * them injected; `ChFunctions.register` appends them to a plain
    * session's extra optimizations. */
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(
    graft.plans.PartitionPruneFromDate,
    graft.plans.SkipIndexPrune,
    graft.plans.UInt64DistinctNarrow,
    graft.plans.LocalSort,
    graft.plans.OneTask)
}
