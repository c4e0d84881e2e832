package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, WriteFiles}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.hadoop.fs.FileStatus
import graft.Tables
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
  * A larger input is one task's worth too when it is one parquet file
  * holding one row group of at most `spark.sql.files.maxPartitionBytes`
  * (a 600k-row `lineitem` of 10.7 MB): its scan still cuts a few splits,
  * but parquet hands a row group only to the split holding its
  * midpoint, so one task reads every row and the others open the file
  * and return nothing. Coalescing costs no scan parallelism there; it
  * drops the exchanges, the ORDER BY's sampling job and the empty fetch
  * jobs above the scan. The row groups are counted from the file's
  * footer, read on the driver once per file version. Several such files
  * stay split: `CoalesceExec(n)` cannot choose which splits share a
  * task.
  *
  * The rule fires when the statement's one input is a file scan whose
  * files total at most that cost or hold one such row group (or a
  * driver-side relation of at most that cost), the statement reads
  * fewer of its columns than [[LateMaterialize]] calls wide, and every
  * operator above it emits at most a constant multiple of its input
  * rows. It then wraps the scan chain — the Project/Filter run directly
  * above the relation, so partition and pushed filters stay with the
  * scan — in `Repartition(1, shuffle = false)`. Its `CoalesceExec(1)`
  * reports `SinglePartition`, which satisfies every distribution the
  * operators above require, so `EnsureRequirements` inserts no exchange.
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
  * through the same file-status cache as its scan, once per chain. An
  * already wrapped plan is recognised before any sizing, so an admitted
  * relation is sized once per statement.
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
      if (columnsRead(root) < LateMaterialize.MinProjCols && small(chain))
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
    if (isScanChain(plan)) input(plan).map(_._1) else None

  /** Whether the chain reads at most one task's worth: its input totals
    * at most `openCostInBytes`, or it is one parquet file holding one
    * row group of at most `maxPartitionBytes`. */
  private def small(chain: LogicalPlan): Boolean = {
    val conf = SQLConf.get
    input(chain).exists { case (bytes, sole) =>
      bytes <= conf.filesOpenCostInBytes || sole.exists { case (file, fs) =>
        singleGroupBytes(file, fs).exists(_ <= conf.filesMaxPartitionBytes)
      }
    }
  }

  /** Files whose row groups [[singleGroupBytes]] has counted. */
  private val MemoFiles = 1024

  /** Each counted file's one row group's bytes (None: not exactly one),
    * by path, length and modification time, so a rewritten file is read
    * again. At most [[MemoFiles]] entries of about 150 bytes; the least
    * recently used goes first. */
  private val groupMemo =
    new java.util.LinkedHashMap[(String, Long, Long), Option[Long]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Option[Long]]): Boolean = size > MemoFiles
    }

  /** The byte size of the file's row group when its footer lists exactly
    * one. A footer is read once per file version, not once per statement:
    * a footer read and the Hadoop settings copied for it added 3–5 ms to
    * a 9 ms plan on a 4-core VM. */
  private def singleGroupBytes(file: FileStatus, fs: HadoopFsRelation): Option[Long] = {
    val key = (file.getPath.toString, file.getLen, file.getModificationTime)
    groupMemo.synchronized(Option(groupMemo.get(key))).getOrElse {
      val hadoopConf = fs.sparkSession.sessionState.newHadoopConfWithOptions(fs.options)
      val groups = Tables.footer(file, hadoopConf).getBlocks
      val bytes = if (groups.size == 1) Some(groups.get(0).getTotalByteSize) else None
      groupMemo.synchronized(groupMemo.put(key, bytes))
      bytes
    }
  }

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

  /** Bytes the chain's relation reads, listed once, and its file when it
    * reads exactly one parquet file; None for a relation this rule does
    * not size. */
  private def input(chain: LogicalPlan): Option[(Long, Option[(FileStatus, HadoopFsRelation)])] = {
    val conds = chain.collect { case Filter(c, _) => splitConjunctivePredicates(c) }.flatten
    chain.collectLeaves().head match {
      case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] =>
        val fs = r.relation.asInstanceOf[HadoopFsRelation]
        val partCols = AttributeSet(r.output.filter(a =>
          fs.partitionSchema.fieldNames.contains(a.name)))
        val partFilters: Seq[Expression] = conds.filter(c =>
          c.deterministic && !SubqueryExpression.hasSubquery(c) &&
            c.references.nonEmpty && c.references.subsetOf(partCols))
        val files = fs.location.listFiles(partFilters, Nil).flatMap(_.files)
        val sole = files match {
          case Seq(f) if fs.fileFormat.isInstanceOf[ParquetFileFormat] => Some((f.fileStatus, fs))
          case _ => None
        }
        Some((files.map(_.getLen).sum, sole))
      case l: LocalRelation => Some((l.stats.sizeInBytes.min(Long.MaxValue).toLong, None))
      case _: OneRowRelation => Some((0L, None))
      case _ => None
    }
  }
}
