package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.PlanApi

/** Lazy (late) materialization for top-k over wide tables — the
  * ClickHouse 25.4 "lazy materialization" optimization, re-expressed
  * Spark-first. The reference delegates such queries wholesale
  * (main.py:190); ClickBench's Q23 (`SELECT * FROM hits WHERE URL LIKE
  * '%google%' ORDER BY EventTime LIMIT 10`) is the canonical shape.
  *
  * A single-pass plan decodes EVERY projected column of EVERY filtered
  * row just to throw all but n away at the top-k. At 100 TB that is the
  * difference between reading ~10 rows' pages and reading the whole
  * table's 105 columns. Two passes instead:
  *
  *   1. top-k on a NARROW scan: only the sort keys (Catalyst prunes the
  *      parquet scan to those columns + the filter's) — the n winning
  *      key tuples come back to the driver (bounded by n <= 1000, the
  *      same driver-side contract as a broadcast threshold);
  *   2. refetch matching rows with an Or-of-EqualNullSafe key predicate
  *      injected into the ORIGINAL plan's filter — a compile-time
  *      literal predicate, so it reaches the parquet scan as
  *      PushedFilters (row-group stats + column-index page skipping),
  *      unlike a semi-join or an InSubquery, which Spark cannot push
  *      below a scan.
  *
  * Any full-sort-tuple tie at the boundary pulls ALL tied rows in phase
  * 2 and the final ORDER BY + LIMIT trims again — any n-subset among
  * exact ties is a correct answer for the original query too.
  *
  * The rewrite matches the LOGICAL PLAN (Limit over Sort over
  * Project/Filter over a file relation), so it fires for DataFrame-built
  * queries exactly as for SQL text — `rewrite(df)` is the public entry;
  * the dialect layer calls it on every transpiled SELECT. It is NOT
  * injected as an optimizer `Rule[LogicalPlan]` on purpose: phase 1
  * executes a Spark job, and running jobs inside the optimizer breaks
  * AQE re-optimization (each re-plan would re-run the job) and recurses
  * through every subquery's optimization — an explicit rewrite point
  * keeps the eager collect at a single, visible boundary.
  */
object LateMaterialize {

  /** Rewrite threshold: only fire when the projection is wide and the
    * phase-1 scan is narrow — otherwise two passes cost more than one. */
  private val MaxK = 1000
  private[graft] val MinProjCols = 16
  private val MaxKeyCols = 10

  /** SQL-text entry (the dialect layer): analyze, then plan-rewrite.
    * None when the shape or the economics don't fit (caller runs the
    * text as-is, and an unparsable query surfaces its real error from
    * the caller's own spark.sql). */
  def maybeRun(spark: SparkSession, sql: String): Option[DataFrame] =
    scala.util.Try(spark.sql(sql)).toOption.flatMap(rewrite)

  /** Plan-matching entry for any DataFrame-built top-k, and the dialect
    * hot path (the caller owns the single spark.sql analysis): returns
    * the two-phase equivalent, or None when the plan isn't the guarded
    * Limit/Sort/Filter/relation shape. */
  def rewrite(df: DataFrame): Option[DataFrame] = {
    if (df.isStreaming) return None
    val spark = df.sparkSession
    val plan = df.queryExecution.analyzed

    val (n, afterLimit) = plan match {
      case Limit(IntegerLiteral(k), child) => (k, child)
      case _ => return None
    }
    if (n > MaxK || n <= 0) return None
    // an outer restitution Project (ORDER BY on a non-projected column)
    // is fine — phase 2 keeps the original plan above the filter
    val sortNode = afterLimit match {
      case s: Sort => s
      case Project(ps, s: Sort) if ps.forall(_.deterministic) => s
      case _ => return None
    }
    if (!sortNode.global) return None
    val order = sortNode.order

    // walk down through deterministic Project / a single Filter /
    // alias layers to a file relation; anything else (Aggregate,
    // Window, Join, a second Filter...) means the two-phase reading
    // is wrong — keep the original plan
    var node: LogicalPlan = sortNode.child
    var filter: Option[Filter] = None
    var done = false
    while (!done) node match {
      case p: Project if p.projectList.forall(_.deterministic) =>
        node = p.child
      case f: Filter if filter.isEmpty && f.condition.deterministic =>
        filter = Some(f); node = f.child
      case a: SubqueryAlias => node = a.child
      case v: View => node = v.child // temp views wrap their stored plan
      case _ => done = true
    }
    val leaf = node match {
      case r @ (_: LogicalRelation | _: DataSourceV2Relation) => r
      case _ => return None
    }

    // phase 1 and 2 must see identical data and predicates: bail on
    // anything non-deterministic ANYWHERE in the tree, and on
    // current-time expressions — Spark pins those per QUERY, and the
    // two phases are two queries
    val timeDependent = plan.exists(_.expressions.exists(_.exists {
      case _: CurrentDate | _: CurrentTimestamp | _: LocalTimestamp |
           _: Now | _: CurrentTimeZone => true
      case _: PlanExpression[_] => true // subqueries: shape too complex
      case e => !e.deterministic
    }))
    if (timeDependent) return None

    // every sort item must be a plain column of the relation
    val keyAttrs: Seq[Attribute] = order.map(_.child).map {
      case a: AttributeReference if leaf.outputSet.contains(a) => a
      case _ => return None
    }.distinct
    val condAttrs = filter.map(_.references).getOrElse(AttributeSet.empty)
    if ((AttributeSet(keyAttrs) ++ condAttrs).size > MaxKeyCols) return None
    // economics: wide final projection, narrow phase-1
    if (plan.output.size < MinProjCols) return None

    // phase 1: top-k of just the key columns — Catalyst prunes the
    // scan to keys + filter columns
    val p1Body = filter.map(f => Filter(f.condition, leaf): LogicalPlan)
      .getOrElse(leaf)
    val phase1 = PlanApi.ofRows(spark,
      Limit(Literal(n), Sort(order, global = true,
        Project(keyAttrs, p1Body))))
    val keys = phase1.collect()
    if (keys.isEmpty) return Some(df.limit(0))

    // Or-of-EqualNullSafe on the winning tuples: literal at plan time,
    // so DataSourceStrategy hands the whole chain to parquet
    val keyPred: Expression = keys.toSeq.map { r =>
      keyAttrs.zipWithIndex.map { case (a, i) =>
        EqualNullSafe(a, Literal.create(r.get(i), a.dataType)): Expression
      }.reduce(And)
    }.reduce(Or)

    // phase 2: the ORIGINAL plan with the key predicate injected at
    // the filter (or directly above the relation) — projections, sort
    // and limit are untouched, so the output is identical
    val p2Plan = filter match {
      case Some(f) => plan.transformUp {
        case x if x eq f => Filter(And(f.condition, keyPred), f.child)
      }
      case None => plan.transformUp {
        case x if x eq leaf => Filter(keyPred, leaf)
      }
    }
    Some(PlanApi.ofRows(spark, p2Plan))
  }
}
