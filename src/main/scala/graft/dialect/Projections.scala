package graft.dialect

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, HyperLogLogPlusPlus, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, SubqueryAlias, View}
import org.apache.spark.sql.functions.{col, expr, lit, count => fCount, max => fMax, min => fMin, sum => fSum}
import scala.collection.concurrent.TrieMap

/** ClickHouse table PROJECTIONs (`ALTER TABLE t ADD PROJECTION p
  * (SELECT k1, k2, agg(x)... GROUP BY k1, k2)`) — per-part materialized
  * aggregates with an automatic read rewrite.
  *
  * Semantics mirrored from ClickHouse:
  *  - ADD PROJECTION registers the definition and materializes only
  *    parts written AFTER it: every INSERT batch appends its own
  *    PARTIAL aggregate to the projection store (the per-part
  *    projection). `MATERIALIZE PROJECTION` back-fills history by
  *    recomputing the store from the whole table.
  *  - A matching query (single-table GROUP BY on exactly the
  *    projection keys, aggregates derivable from the stored partials,
  *    optional WHERE over key columns only) reads the store and
  *    MERGE-aggregates the partials: count -> sum of counts, sum ->
  *    sum of sums, min/max -> min/max of minima/maxima. At 100 TB this
  *    is the difference between scanning the fact table and scanning
  *    a per-(part, key) summary thousands of times smaller.
  *  - Any non-INSERT data change (mutation, reshape, partition
  *    surgery, truncate) marks the projection incomplete: the rewrite
  *    turns off (queries silently fall back to the base table — never
  *    wrong answers) until the next MATERIALIZE. ClickHouse rewrites
  *    projection parts inside the mutation; the parquet model has no
  *    per-part hook, so invalidate-and-rematerialize is the honest
  *    equivalent.
  *
  * Scope guards (anything outside them just doesn't rewrite):
  * count(*) / sum / min / max over non-decimal columns (a re-summed
  * decimal partial widens the result type and would diverge from the
  * direct query's schema), avg over INTEGRAL columns as a
  * (sum, count) pair — ClickHouse's avgState; exact because integral
  * partial sums are exact — and uniq as a mergeable DataSketches HLL
  * sketch per part (the g12_state_merge machinery; HLL union is
  * order-independent, so the merged estimate is deterministic).
  * Non-DISTINCT only, no HAVING beyond what Spark plans as a
  * post-aggregate filter.
  */
object Projections {

  case class AggDef(fn: String, column: String) {
    def storeCol: String = s"__${fn}_$column"
    /** avg stores a (sum, count) PAIR of physical columns. */
    def sumCol: String = s"__avgsum_$column"
    def cntCol: String = s"__avgcnt_$column"
  }
  case class Proj(table: String, name: String, keys: Seq[String],
                  aggs: Seq[AggDef], store: String,
                  @volatile var complete: Boolean)

  /** normalized table name -> its projections */
  private val registry = TrieMap.empty[String, List[Proj]]

  /** Durable-catalog accessors: the registry persists inside the base
    * table's `_graft_meta.json` (CatalogStore) and restores with it. */
  private[dialect] def forTable(table: String): List[Proj] =
    registry.getOrElse(table.replace("`", "").toLowerCase, Nil)

  private[dialect] def restore(table: String, name: String,
                               keys: Seq[String], aggs: Seq[AggDef],
                               store: String, complete: Boolean): Unit = {
    val tbl = table.toLowerCase
    if (!registry.getOrElse(tbl, Nil).exists(_.name == name.toLowerCase))
      registry.updateWith(tbl)(old => Some(
        Proj(tbl, name.toLowerCase, keys, aggs, store, complete)
          :: old.getOrElse(Nil)))
  }

  private[dialect] def forgetInMemory(table: String): Unit =
    registry.remove(table.replace("`", "").toLowerCase)

  /** RENAME TABLE: projections follow the table (ClickHouse keeps
    * them). Each store table renames to the new table's derived store
    * name — leaving it behind would collide with a projection of the
    * same name on a future table reusing the old name, answering its
    * GROUP BYs from THIS table's data. */
  private[dialect] def onRename(spark: SparkSession, oldNorm: String,
                                newNorm: String): Unit = {
    val moved = registry.remove(oldNorm.toLowerCase).getOrElse(return)
    val renamed = moved.map { p =>
      val newStore = storeName(newNorm.toLowerCase, p.name)
      try {
        Ddl.cleanOrphanLocation(spark, newStore)
        spark.sql(s"ALTER TABLE ${p.store} RENAME TO $newStore")
        // the store's meta file moved with its directory but still
        // records the OLD name — rewrite it, or a fresh JVM would
        // restore the store under the old name and the projection
        // would silently lose its table
        CatalogStore.save(spark, newStore)
        Proj(newNorm.toLowerCase, p.name, p.keys, p.aggs, newStore, p.complete)
      } catch {
        case _: Throwable =>
          // store rename failed: keep the projection but mark it
          // incomplete under the OLD store — the rewrite stays off
          // (never wrong answers) until the next MATERIALIZE recreates
          // the store under the new name
          val np = Proj(newNorm.toLowerCase, p.name, p.keys, p.aggs,
            storeName(newNorm.toLowerCase, p.name), complete = false)
          np
      }
    }
    registry.put(newNorm.toLowerCase, renamed)
  }

  private def storeName(table: String, proj: String): String = {
    val Array(db, t) = table.split("\\.", 2)
    s"$db.${t}__proj_$proj"
  }

  /** (Re)create the store table from `df`, clearing both the catalog
    * entry AND any orphaned location (the in-memory catalog does not
    * survive a JVM restart, but the warehouse directory does —
    * saveAsTable refuses a fresh managed table over a leftover dir). */
  private def writeStore(spark: SparkSession, store: String,
                         df: DataFrame): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $store")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(store)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.saveAsTable(store)
    // the store is a graft table too: persist its schema so a restart
    // restores it before the projection that reads it
    CatalogStore.save(spark, store)
  }

  /** The partial-aggregate frame of one batch (or of the full table
    * for MATERIALIZE): keys + the agg's mergeable state. count stores
    * row counts; sum/min/max store the batch's own aggregate; avg
    * stores the (sum, count) pair — ClickHouse's avgState — and uniq
    * stores a DataSketches HLL sketch (the same mergeable state the
    * uniqState/uniqMerge combinators use, g12_state_merge). */
  private def partial(p: Proj, batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.hll_sketch_agg
    val aggCols: Seq[Column] = p.aggs.flatMap { a =>
      a.fn match {
        case "count" => Seq(fCount(lit(1)).cast("long").as(a.storeCol))
        case "sum" => Seq(fSum(col(a.column)).as(a.storeCol))
        case "min" => Seq(fMin(col(a.column)).as(a.storeCol))
        case "max" => Seq(fMax(col(a.column)).as(a.storeCol))
        case "avg" => Seq(fSum(col(a.column)).as(a.sumCol),
          fCount(col(a.column)).cast("long").as(a.cntCol))
        case "uniq" => Seq(hll_sketch_agg(col(a.column)).as(a.storeCol))
      }
    }
    batch.groupBy(p.keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
  }

  def add(spark: SparkSession, table: String, name: String,
          selectList: String, groupBy: String, ifNotExists: Boolean): Unit = {
    val tbl = table.replace("`", "").toLowerCase
    val key = name.toLowerCase
    if (registry.getOrElse(tbl, Nil).exists(_.name == key)) {
      if (ifNotExists) return
      throw new IllegalArgumentException(s"projection $name already exists on $table")
    }
    val keys = SqlScan(groupBy).split(',').map(_.trim).filter(_.nonEmpty)
      .map(_.replace("`", ""))
    val tableCols = spark.table(tbl).columns.map(_.toLowerCase).toSet
    require(keys.nonEmpty && keys.forall(k => tableCols(k.toLowerCase)),
      s"projection keys must be plain columns of $table: $groupBy")
    val aggRe = "(?i)^(count|sum|min|max|avg|uniq)\\s*\\(\\s*(\\*|[\\w`]*)\\s*\\)$".r
    val aggs = SqlScan(selectList).split(',').map(_.trim).filter(_.nonEmpty).flatMap {
      case item if keys.exists(_.equalsIgnoreCase(item.replace("`", ""))) => Nil
      case aggRe(fn, arg0) =>
        val arg = arg0.replace("`", "")
        val f = fn.toLowerCase
        if (f == "count") Seq(AggDef("count", "rows"))
        else {
          import org.apache.spark.sql.types._
          require(tableCols(arg.toLowerCase),
            s"projection aggregate over unknown column $arg")
          val dt = spark.table(tbl).schema(spark.table(tbl).columns
            .find(_.equalsIgnoreCase(arg)).get).dataType
          require(!dt.isInstanceOf[DecimalType],
            s"projection $f($arg): decimal partials widen on re-aggregation; unsupported")
          // avg re-aggregates exactly only when the partial sums are
          // exact — integral columns (a double partial-sum's rounding
          // depends on batch boundaries and would diverge from the
          // direct query's value)
          if (f == "avg") require(dt match {
            case ByteType | ShortType | IntegerType | LongType => true
            case _ => false
          }, s"projection avg($arg): integral columns only")
          // uniq stores a DataSketches HLL sketch — its input types
          if (f == "uniq") require(dt match {
            case IntegerType | LongType | StringType | BinaryType => true
            case _ => false
          }, s"projection uniq($arg): int/long/string/binary columns only")
          Seq(AggDef(f, spark.table(tbl).columns.find(_.equalsIgnoreCase(arg)).get))
        }
      case other => throw new IllegalArgumentException(
        s"unsupported projection select item '$other' (keys + count/sum/min/max/avg/uniq only)")
    }
    require(aggs.nonEmpty, "projection needs at least one aggregate")
    val store = storeName(tbl, key)
    val p = Proj(tbl, key, keys, aggs, store, complete = false)
    // empty store with the partial schema; table-empty at ADD == complete
    writeStore(spark, store, partial(p, spark.table(tbl).limit(0)))
    p.complete = spark.table(tbl).isEmpty
    registry.updateWith(tbl)(old => Some(p :: old.getOrElse(Nil)))
    CatalogStore.save(spark, tbl)
  }

  def drop(spark: SparkSession, table: String, name: String,
           ifExists: Boolean): Unit = {
    val tbl = table.replace("`", "").toLowerCase
    val key = name.toLowerCase
    val existing = registry.getOrElse(tbl, Nil)
    if (!existing.exists(_.name == key)) {
      if (ifExists) return
      throw new IllegalArgumentException(s"projection $name does not exist on $table")
    }
    existing.filter(_.name == key)
      .foreach(p => Engine.execute(spark, s"DROP TABLE IF EXISTS ${p.store}"))
    registry.update(tbl, existing.filterNot(_.name == key))
    CatalogStore.save(spark, tbl)
  }

  def materialize(spark: SparkSession, table: String, name: String): Unit = {
    val tbl = table.replace("`", "").toLowerCase
    val p = registry.getOrElse(tbl, Nil).find(_.name == name.toLowerCase)
      .getOrElse(throw new IllegalArgumentException(
        s"projection $name does not exist on $table"))
    writeStore(spark, p.store, partial(p, spark.table(tbl)))
    p.complete = true
    CatalogStore.save(spark, tbl)
  }

  /** INSERT hook (appendAligned): each batch appends its own partial —
    * the per-part projection, one small aggregate per insert. */
  def onInsert(spark: SparkSession, table: String, batch: DataFrame): Unit =
    registry.getOrElse(table.toLowerCase, Nil).foreach { p =>
      partial(p, batch).write.mode("append").saveAsTable(p.store)
    }

  /** Non-INSERT data change: the store no longer covers the table —
    * disable the rewrite (fall back to base scans) until MATERIALIZE.
    * The cleared flag persists with the table's meta, so a restart
    * between the mutation and the next MATERIALIZE cannot resurrect a
    * stale projection into wrong answers. */
  def invalidate(spark: SparkSession, table: String): Unit = {
    val ps = registry.getOrElse(table.replace("`", "").toLowerCase, Nil)
    if (ps.exists(_.complete)) {
      ps.foreach(_.complete = false)
      CatalogStore.save(spark, table)
    }
  }

  private[graft] def snapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    registry.values.flatten.toSeq
      .map(p => (p.table, p.name, p.keys.mkString(", "),
        p.aggs.map(a => s"${a.fn}(${a.column})").mkString(", "),
        p.store, p.complete))
      .sortBy(r => (r._1, r._2))
      .toDF("table", "name", "keys", "aggregates", "store", "complete")
  }

  /** Kill switch (bench A/B, incident response): `false` falls back to
    * base-table scans everywhere. */
  @volatile var enabled = true

  /** SQL entry: analyze, then plan-rewrite (None -> caller runs as-is).
    * Zero cost while no projections exist. */
  def maybeRun(spark: SparkSession, sql: String): Option[DataFrame] =
    if (!enabled || registry.isEmpty ||
        !registry.values.exists(_.exists(_.complete))) None
    else scala.util.Try(spark.sql(sql)).toOption.flatMap(rewrite)

  /** Already-analyzed entry (the dialect hot path): the caller owns the
    * single spark.sql analysis; this only plan-matches. */
  def maybeRewrite(df: DataFrame): Option[DataFrame] =
    if (!enabled || registry.isEmpty ||
        !registry.values.exists(_.exists(_.complete))) None
    else rewrite(df)

  /** Conservative plan matcher: Aggregate over [Filter over] the
    * projected table, grouping exactly on the projection keys, every
    * aggregate derivable from the stored partials, filter referencing
    * key columns only. */
  def rewrite(df: DataFrame): Option[DataFrame] = {
    val spark = df.sparkSession
    // an ORDER BY over the aggregate (the common shape) is matched and
    // re-applied onto the rewritten frame; the sort keys must be plain
    // output columns
    val (sortKeys: Seq[(String, Boolean)], aggNode: Aggregate) =
      df.queryExecution.analyzed match {
        case org.apache.spark.sql.catalyst.plans.logical
            .Sort(order, true, a: Aggregate, _) =>
          val keys: Seq[(String, Boolean)] = order.map { so =>
            so.child match {
              case ar: AttributeReference =>
                (ar.name, so.direction == Ascending)
              case _ => return None
            }
          }
          (keys, a)
        case a: Aggregate => (Seq.empty[(String, Boolean)], a)
        case _ => return None
      }
    val (groups, results, belowAgg) =
      (aggNode.groupingExpressions, aggNode.aggregateExpressions, aggNode.child)
    // peel to the relation, collecting one optional deterministic filter
    var node: LogicalPlan = belowAgg
    var filterCond: Option[Expression] = None
    var tableName: Option[String] = None
    var done = false
    while (!done) node match {
      case f: Filter if filterCond.isEmpty && f.condition.deterministic =>
        filterCond = Some(f.condition); node = f.child
      case a: SubqueryAlias =>
        // keep overwriting: the INNERMOST alias is the catalog name
        // (an outer `FROM t AS x` alias must not shadow it)
        tableName = Some(a.identifier.qualifier
          .filterNot(_ == "spark_catalog").mkString(".") match {
          case "" => a.identifier.name
          case q => s"$q.${a.identifier.name}"
        })
        node = a.child
      case v: View => node = v.child
      case _ => done = true
    }
    val tbl = tableName.getOrElse(return None).toLowerCase
    val proj = registry.getOrElse(tbl, Nil).filter(_.complete).find { p =>
      groups.forall {
        case a: AttributeReference =>
          p.keys.exists(_.equalsIgnoreCase(a.name))
        case _ => false
      } && groups.map { case a: AttributeReference => a.name.toLowerCase }
        .toSet == p.keys.map(_.toLowerCase).toSet
    }.getOrElse(return None)
    // the filter may touch key columns only (it then applies unchanged
    // to the store); anything else needs base rows
    filterCond.foreach { c =>
      val ok = c.references.forall(a =>
        proj.keys.exists(_.equalsIgnoreCase(a.name)))
      if (!ok) return None
    }
    // map every output column onto the store. avg merges as
    // sum(sums)/sum(counts); uniq merges the per-part HLL sketches and
    // estimates — exactly how ClickHouse reads avgState/uniqState
    // projections. (uniq is an estimator by contract: the direct path
    // answers HLL++, the projection path answers the DataSketches
    // union estimate — both inside the same error envelope.)
    def merged(fn: String, column: String): Option[Column] = {
      import org.apache.spark.sql.functions.{hll_sketch_estimate, hll_union_agg}
      val a = if (fn == "count") AggDef("count", "rows") else AggDef(fn, column)
      if (!proj.aggs.exists(x => x.fn == a.fn &&
          x.column.equalsIgnoreCase(a.column))) None
      else Some(fn match {
        case "count" => fSum(col(a.storeCol)).cast("long")
        case "sum" => fSum(col(a.storeCol))
        case "min" => fMin(col(a.storeCol))
        case "max" => fMax(col(a.storeCol))
        case "avg" => (fSum(col(a.sumCol)) / fSum(col(a.cntCol))).cast("double")
        case "uniq" => hll_sketch_estimate(hll_union_agg(col(a.storeCol)))
      })
    }
    // grouping columns are retained by .agg() automatically — only the
    // merge-aggregates go in the agg list (re-adding a key would make
    // its name ambiguous in the final select)
    val out: Seq[Column] = results.flatMap {
      case a: AttributeReference if proj.keys.exists(_.equalsIgnoreCase(a.name)) =>
        Nil
      case Alias(AggregateExpression(fagg, _, false, None, _), outName) =>
        val c = fagg match {
          case Count(Seq(Literal(_, _))) => merged("count", "rows")
          case Sum(ar: AttributeReference, _) => merged("sum", ar.name)
          case Min(ar: AttributeReference) => merged("min", ar.name)
          case Max(ar: AttributeReference) => merged("max", ar.name)
          case Average(ar: AttributeReference, _) => merged("avg", ar.name)
          case h: HyperLogLogPlusPlus => h.child match {
            case ar: AttributeReference => merged("uniq", ar.name)
            case _ => None
          }
          case _ => None
        }
        Seq(c.getOrElse(return None).as(outName))
      case _ => return None
    }
    if (out.isEmpty) return None // keys-only aggregate: nothing to merge
    val base = spark.table(proj.store)
    val filtered = filterCond match {
      case Some(c) =>
        // key-only predicate: rebind its attribute references onto the
        // store's same-named columns and filter at the plan level
        val storeAttrs = base.queryExecution.analyzed.output
          .map(a => a.name.toLowerCase -> a).toMap
        val bound = c.transform {
          case a: AttributeReference =>
            storeAttrs.getOrElse(a.name.toLowerCase, return None)
        }
        org.apache.spark.sql.graft.PlanApi.ofRows(spark,
          Filter(bound, base.queryExecution.analyzed))
      case None => base
    }
    val agged = filtered.groupBy(proj.keys.map(col): _*)
      .agg(out.head, out.tail: _*)
      .select(results.map(r => col(r.name)): _*)
    Some(
      if (sortKeys.isEmpty) agged
      else agged.orderBy(sortKeys.map { case (n, asc) =>
        if (asc) col(n).asc else col(n).desc }: _*))
  }
}
