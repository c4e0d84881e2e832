package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, WriteFiles}
import org.apache.spark.sql.internal.SQLConf
import graft.operators.LateMaterialize

/** Run a statement over small inputs as one task: no exchange, one
  * stage, one job.
  *
  * A ClickBench aggregate over a 2 MB table still plans as a
  * distributed query: the file scan splits into a few partitions, a
  * partial aggregate feeds a hash exchange, AQE runs the map stage and
  * re-plans, and the result fetch runs one job per result partition —
  * about 2 jobs, 2 stages and 4 tasks per statement, most of which
  * carry a few kilobytes. Spark's own split sizing already treats such
  * input as too small to share: `spark.sql.files.openCostInBytes`
  * (4 MB) is the smallest split `FilePartition.maxSplitBytes` cuts.
  *
  * The rule fires when the statement's one input is a file scan whose
  * files total at most that cost (or a driver-side relation of at most
  * that size), the statement reads fewer of its columns than
  * [[LateMaterialize]] calls wide, and every operator above it emits
  * at most a constant multiple of its input rows. It then wraps the
  * scan chain — the Project/Filter run directly above the relation,
  * so partition and pushed filters stay with the scan — in
  * `Repartition(1, shuffle = false)`. Its `CoalesceExec(1)` reports
  * `SinglePartition`, which satisfies every distribution the operators
  * above require, so `EnsureRequirements` inserts no exchange.
  *
  * Joins, Generate, Range, UDTFs and everything else not listed in
  * [[rowPreserving]] keep their parallelism: a small input can still
  * produce a large output there. A wide scan keeps them too: one
  * thread would set up a reader for every read column of every file
  * (cb23's `SELECT *` refetch of 134 columns from a 20,011-row `hits`,
  * on a 4-core machine: 336–391 ms warm on 4 tasks, 510–650 ms on one).
  * A root write command (the `noop` sink, `INSERT … SELECT`) is looked
  * through.
  *
  * The files are sized through the relation's own file index with the
  * partition filters the scan will use, so a catalog table is listed
  * through the same file-status cache as its scan. An already wrapped
  * plan is recognised before any sizing, so an admitted relation is
  * sized once per statement.
  */
object OneTask extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case w: V2WriteCommand => w.withNewQuery(apply(w.query))
    case w: DataWritingCommand => w.withNewChildren(Seq(apply(w.query)))
    case w: WriteFiles => w.withNewChildren(Seq(apply(w.child)))
    case _: LocalRelation => plan // answers on the driver, with no job
    case _ if plan.isStreaming => plan
    case _ => wrap(plan, plan).getOrElse(plan)
  }

  /** Operators that emit at most a constant multiple of their input's
    * rows; the plan above the scan chain may hold only these. */
  private def rowPreserving(p: LogicalPlan): Boolean = p match {
    case _: Aggregate | _: Sort | _: GlobalLimit | _: LocalLimit | _: Offset |
         _: Tail | _: Window | _: WindowGroupLimit | _: Expand |
         _: Deduplicate | _: Sample | _: SubqueryAlias | _: Project | _: Filter => true
    case _ => false
  }

  /** The plan with its scan chain coalesced to one partition, or None
    * when the shape or the input size does not admit it (or it is
    * already coalesced). */
  private def wrap(p: LogicalPlan, root: LogicalPlan): Option[LogicalPlan] = p match {
    case Repartition(1, false, _) => None
    case chain if isScanChain(chain) =>
      if (columnsRead(root) < LateMaterialize.MinProjCols &&
          inputBytes(chain).exists(_ <= SQLConf.get.filesOpenCostInBytes))
        Some(Repartition(1, shuffle = false, chain))
      else None
    case u: UnaryNode if rowPreserving(u) =>
      wrap(u.child, root).map(c => u.withNewChildren(Seq(c)))
    case _ => None
  }

  /** Bytes `plan` reads when it is a scan chain over a relation this
    * rule sizes, else None. An analyzed plan is accepted as is: its
    * subquery aliases are looked through. The write layer sizes an
    * INSERT block with it. */
  def scanBytes(plan: LogicalPlan): Option[Long] =
    if (isScanChain(plan)) inputBytes(plan) else None

  private def isScanChain(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => isScanChain(c)
    case Filter(_, c) => isScanChain(c)
    case SubqueryAlias(_, c) => isScanChain(c)
    case _: LogicalRelation | _: LocalRelation | _: OneRowRelation => true
    case _ => false
  }

  /** Columns of its one relation the statement `root` reads: those its
    * operators reference or it returns. */
  private def columnsRead(root: LogicalPlan): Int =
    root.collect { case p: UnaryNode => p.references }.foldLeft(root.outputSet)(_ ++ _)
      .intersect(root.collectLeaves().head.outputSet).size

  /** Bytes the chain's relation reads; None for a relation this rule
    * does not size. */
  private def inputBytes(chain: LogicalPlan): Option[Long] = {
    val conds = chain.collect { case Filter(c, _) => splitConjunctivePredicates(c) }.flatten
    chain.collectLeaves().head match {
      case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] =>
        val fs = r.relation.asInstanceOf[HadoopFsRelation]
        val partCols = AttributeSet(r.output.filter(a =>
          fs.partitionSchema.fieldNames.contains(a.name)))
        val partFilters: Seq[Expression] = conds.filter(c =>
          c.deterministic && !SubqueryExpression.hasSubquery(c) &&
            c.references.nonEmpty && c.references.subsetOf(partCols))
        Some(fs.location.listFiles(partFilters, Nil).iterator.flatMap(_.files).map(_.getLen).sum)
      case l: LocalRelation => Some(l.stats.sizeInBytes.min(Long.MaxValue).toLong)
      case _: OneRowRelation => Some(0L)
      case _ => None
    }
  }
}
