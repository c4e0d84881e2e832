package graft.dialect

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** ClickHouse DDL → Spark catalog (SURVEY.md §2.1 S3-S5).
  *
  * Evidence shapes:
  *   - `CREATE DATABASE IF NOT EXISTS db`
  *     (/root/reference/test/test_suite.py:311)
  *   - `CREATE TABLE t (id UInt32, name String) ENGINE=Memory`
  *     (test_suite.py:312)
  *   - `CREATE TABLE hits (...) ENGINE=MergeTree() PARTITION BY
  *     toYYYYMM(EventDate) ORDER BY (...) SAMPLE BY ... SETTINGS ...`
  *     (.github/workflows/test.yml:49)
  *   - `INSERT INTO ... SELECT` (test.yml:50)
  *
  * Mapping: both engines become managed parquet tables (Memory's
  * in-memory-ness is an implementation detail the reference's clients
  * can't observe). `PARTITION BY expr` is materialized as a generated
  * partition column `_part` appended on every INSERT...SELECT, so
  * Spark's partition pruning fires on it (SURVEY §4); `ORDER BY` keys
  * (plain columns or expressions like `intHash32(UserID)`) become
  * sortWithinPartitions on insert (parquet min/max stats pruning);
  * `SAMPLE BY expr` is stored and consulted by the `SAMPLE k` read
  * rewrite (deterministic keyed subset, ClickHouse semantics);
  * `Nested(f1 T1, ...)` columns expand to parallel array columns
  * literally named `` `col.f1` ARRAY<T1> `` — ClickHouse's own
  * physical model — and the prefix is registered so dotted query
  * access keeps working; `SETTINGS` is accepted and dropped.
  */
object Ddl {

  /** partition expr + order keys + sampling key + engine per created
    * table (lowercased name). `replacingVer` is Some(verColOrEmpty)
    * for ReplacingMergeTree — the version column name, or "" when the
    * engine was declared without one. */
  private[dialect] case class TableMeta(partitionExpr: Option[String],
                                        orderBy: Seq[String],
                                        sampleBy: Option[String] = None,
                                        replacingVer: Option[String] = None,
                                        summingCols: Option[Seq[String]] = None,
                                        ttl: Option[String] = None,
                                        collapsing: Option[(String, String)] = None,
                                        columnDefaults: Seq[(String, String)] = Nil,
                                        columnComments: Seq[(String, String)] = Nil,
                                        tableComment: Option[String] = None,
                                        columnMaterialized: Seq[(String, String)] = Nil,
                                        aggregating: Boolean = false,
                                        aggCols: Seq[(String, String)] = Nil,
                                        // (name, CH type, expr) — no storage:
                                        // ALIAS computes at read, EPHEMERAL
                                        // exists only inside an INSERT (expr
                                        // "" = no default)
                                        columnAliases: Seq[(String, String, String)] = Nil,
                                        columnEphemeral: Seq[(String, String, String)] = Nil,
                                        // special-purpose engines (Null/
                                        // Set/Join/Buffer/Merge): the
                                        // canonical rendered engine tail,
                                        // e.g. "Join(ANY, LEFT, k)" —
                                        // parsed on demand by
                                        // [[SpecialEngines]]
                                        engineSpec: Option[String] = None)
  private val tables = TrieMap.empty[String, TableMeta]

  // durable-catalog accessors (CatalogStore persists/restores this map)
  private[dialect] def metaOf(norm: String): Option[TableMeta] =
    tables.get(norm.toLowerCase)
  private[dialect] def allMetas: Seq[(String, TableMeta)] = tables.toSeq
  private[dialect] def putMeta(norm: String, m: TableMeta): Unit =
    tables.put(norm.toLowerCase, m)
  private[dialect] def forgetMeta(norm: String): Unit =
    tables.remove(norm.toLowerCase)
  private[dialect] def normalizeName(spark: SparkSession, name: String): String =
    normalize(spark, name)
  private[dialect] def matViewsAll: Seq[(String, MvMeta)] =
    matViews.toSeq.sortBy(_._1)
  private[dialect] def restoreMatView(name: String, target: String,
                                      src: String, body: String): Unit =
    matViews.putIfAbsent(name, MvMeta(target, src, body))

  /** Restart simulation: forget materialized views touching the listed
    * tables (in-memory only — the central JSON keeps them, so the
    * restore path actually exercises). */
  private[dialect] def forgetMatViewsFor(tables: Set[String]): Unit =
    matViews.filter { case (name, mv) =>
      tables(name) || tables(mv.target) || tables(mv.src)
    }.keys.foreach(matViews.remove)

  /** TEMPORARY tables per session — weak keys so an abandoned session
    * doesn't pin its SparkSession; the tables themselves are dropped
    * eagerly by [[dropTempTables]] at session eviction/purge. */
  private val tempTables = scala.collection.mutable
    .WeakHashMap.empty[SparkSession, scala.collection.mutable.Set[String]]

  private def registerTempTable(spark: SparkSession, name: String): Unit =
    tempTables.synchronized {
      tempTables.getOrElseUpdate(spark,
        scala.collection.mutable.Set.empty) += normalize(spark, name)
    }

  /** Drop every TEMPORARY table created through `spark` (ClickHouse
    * drops them when the session ends). Called by UserSessions eviction
    * and the shutdown purge; idempotent. */
  def dropTempTables(spark: SparkSession): Unit = {
    val names = tempTables.synchronized {
      tempTables.remove(spark).map(_.toSeq).getOrElse(Nil)
    }
    names.foreach { n =>
      try {
        tables.remove(n)
        spark.sql(s"DROP TABLE IF EXISTS $n")
      } catch { case _: Throwable => () }
    }
  }

  /** Insert-triggered materialized view: `target` is where transformed
    * blocks land, `src` the watched table (normalized), `body` the raw
    * SELECT. ClickHouse semantics: the view's SELECT runs over each
    * INSERTED BLOCK only (not the whole table), and its output appends
    * to the target — aggregating bodies therefore store per-block
    * partial aggregates, exactly like ClickHouse's AggregatingMergeTree
    * feed pattern. */
  private[dialect] case class MvMeta(target: String, src: String, body: String)
  private val matViews = TrieMap.empty[String, MvMeta]
  /** re-entrancy guard for chained/cyclic MVs (fire cascades one level
    * per distinct view, never loops). */
  private val firing = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** Run every MV watching `tableName` over the freshly inserted block
    * (source-schema rows) and append the results to the MV targets.
    * Cascades: a target with its own MVs fires them too, cycles
    * break on the per-thread guard. */
  private[graft] def fireMaterializedViews(spark: SparkSession,
                                           tableName: String,
                                           block: DataFrame): Unit = {
    val srcNorm = normalize(spark, tableName)
    matViews.foreach { case (mvName, mv) =>
      if (mv.src == srcNorm && !firing.get().contains(mvName)) {
        firing.set(firing.get() + mvName)
        try {
          val view = "__graft_mv_block_" + mvName.replace(".", "_")
          block.createOrReplaceTempView(view)
          // substitute the watched table reference with the block view
          val re = "(?i)(?<![\\w`])" +
            java.util.regex.Pattern.quote(mv.src) + "(?![\\w`])"
          val bare = mv.src.substring(mv.src.indexOf('.') + 1)
          val reBare = "(?i)(?<![\\w`.])" +
            java.util.regex.Pattern.quote(bare) + "(?![\\w`])"
          val body = mv.body.replaceAll(re, view).replaceAll(reBare, view)
          val out = spark.sql(Transpiler.transpile(body))
          appendAligned(spark, mv.target, out)
        } finally firing.set(firing.get() - mvName)
      }
    }
  }

  private[graft] def dropMaterializedView(spark: SparkSession,
                                          name: String): Unit = {
    if (matViews.remove(normalize(spark, name)).isDefined)
      CatalogStore.saveMatViews(spark)
  }

  /** Partition expression of a created table (`db.table`, any case) —
    * consulted by [[graft.plans.PartitionPruneFromDate]] to derive
    * `_part` bounds from date predicates. */
  private[graft] def partitionExprOf(qualified: String): Option[String] =
    tables.get(qualified.toLowerCase).flatMap(_.partitionExpr)

  /** SAMPLE BY expression for a created table, if any — consulted by
    * the read path to turn `SAMPLE k` into the deterministic keyed
    * subset ClickHouse computes (reference DDL test.yml:49). */
  def sampleKey(spark: SparkSession, name: String): Option[String] =
    tables.get(normalize(spark, name)).flatMap(_.sampleBy)

  /** For a ReplacingMergeTree table: (sorting key, version column or
    * "") — the inputs of the merge-on-read dedup `FINAL` applies. */
  def replacingMeta(spark: SparkSession,
                    name: String): Option[(Seq[String], String)] =
    tables.get(normalize(spark, name))
      .flatMap(m => m.replacingVer.map(v => (m.orderBy, v)))

  /** For a SummingMergeTree table: (sorting key, explicit sum columns
    * or empty = every numeric non-key column). */
  def summingMeta(spark: SparkSession,
                  name: String): Option[(Seq[String], Seq[String])] =
    tables.get(normalize(spark, name))
      .flatMap(m => m.summingCols.map(c => (m.orderBy, c)))

  /** The merge a SummingMergeTree performs: rows with an equal sorting
    * key collapse to one — listed (or all numeric non-key) columns sum,
    * every other column takes a deterministic first value (ClickHouse
    * keeps "any"). Result types stay the declared ones. One aggregation
    * shuffle on the key; map-side partial aggregation applies. */
  private[dialect] def summingMerge(df: DataFrame, keys: Seq[String],
                                    explicitCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.NumericType
    // summing semantics need plain-column keys (the ClickHouse usage);
    // expression keys fall back to no merge rather than guessing
    if (!keys.forall(df.columns.contains)) return df
    // ClickHouse merges WITHIN partitions only: the materialized
    // partition column joins the key set, so rows never collapse (or
    // sum) across partitions — and _part itself is never summed
    val keys2 = (if (df.columns.contains("_part")) Seq("_part") else Nil) ++
      keys
    val sumCols =
      if (explicitCols.nonEmpty) explicitCols
      else df.schema.fields.filter(f => !keys2.contains(f.name) &&
        f.dataType.isInstanceOf[NumericType]).map(_.name).toSeq
    val aggs = df.columns.filterNot(keys2.contains).toSeq.map { c =>
      if (sumCols.contains(c))
        sum(col(c)).cast(df.schema(c).dataType).as(c)
      else first(col(c)).as(c)
    }
    df.groupBy(keys2.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Spark storage type of an `AggregateFunction(fn, T)` partial state
    * — the same representation the -State combinators produce (see
    * ChFunctions: count/sum/min/max use their natural running value,
    * avg the (sum, count) struct, uniq a DataSketches HLL sketch), so
    * an INSERT ... SELECT fnState(...) lands without conversion. */
  private def aggStateType(cn: String, spec: String): String = {
    import org.apache.spark.sql.types._
    val parts = SqlScan(spec).split(',').map(_.trim)
    val fn = parts.head.toLowerCase
    def inner = Transpiler.mapTypeNames(parts(1))
    fn match {
      case "count" => "BIGINT"
      case "sum" =>
        DataType.fromDDL(inner) match {
          case d: DecimalType => s"DECIMAL(38,${d.scale})"
          case FloatType | DoubleType => "DOUBLE"
          case _ => "BIGINT"
        }
      case "min" | "max" => inner
      case "avg" => "STRUCT<s: DOUBLE, c: BIGINT>"
      case "uniq" => "BINARY"
      case other => throw new IllegalArgumentException(
        s"column $cn: AggregateFunction($other, ...) is not supported " +
          "(supported state families: count, sum, min, max, avg, uniq)")
    }
  }

  /** For an AggregatingMergeTree table: (sorting keys, the
    * AggregateFunction columns as name -> "fn, T" spec). */
  def aggregatingMeta(spark: SparkSession,
                      name: String): Option[(Seq[String], Seq[(String, String)])] =
    tables.get(normalize(spark, name))
      .filter(_.aggregating).map(m => (m.orderBy, m.aggCols))

  /** The merge an AggregatingMergeTree FINAL performs: per sorting key,
    * AggregateFunction columns combine by their state's merge (count/
    * sum re-sum, min/max re-extremize, avg sums the (sum, count) pair,
    * uniq unions the HLL sketches); ordinary columns keep a
    * deterministic representative (min — ClickHouse keeps "any").
    * Like every merge family here, `_part` joins the keys (ClickHouse
    * never merges across partitions). One hash shuffle; the querying
    * pattern stays `fnMerge(col) GROUP BY k`, which aggregates across
    * the merged (or unmerged) rows identically. */
  private[dialect] def aggregatingMerge(df: DataFrame, keys: Seq[String],
                                        aggCols: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.functions._
    val keyCols = (if (df.columns.contains("_part")) Seq("_part") else Nil) ++
      keys.filter(df.columns.contains) // expression keys fall back to min
    def specOf(c: String) = aggCols.find(_._1.equalsIgnoreCase(c))
      .map(p => SqlScan(p._2).split(',').head.trim.toLowerCase)
    val aggs = df.columns.filterNot(keyCols.contains).toSeq.map { c =>
      val dt = df.schema(c).dataType
      specOf(c) match {
        case Some("count") | Some("sum") => sum(col(c)).cast(dt).as(c)
        case Some("min") => min(col(c)).as(c)
        case Some("max") => max(col(c)).as(c)
        case Some("avg") => struct(
          sum(col(c)("s")).cast("double").as("s"),
          sum(col(c)("c")).cast("bigint").as("c")).as(c)
        case Some("uniq") => expr(s"hll_union_agg(`$c`)").as(c)
        case _ => min(col(c)).as(c)
      }
    }
    df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** `TTL expr [DELETE] [, expr TO DISK 'd' | TO VOLUME 'v' ...]` —
    * ClickHouse's full table-TTL tail (the hits-style DDL shape). The
    * row-expiry (DELETE) expression is what merges apply: OPTIMIZE
    * TABLE drops expired rows; reads before the merge still see them.
    * Storage-movement clauses (`TO DISK`/`TO VOLUME`) parse and are
    * DOCUMENTED NO-OPS: this engine has one storage tier (the
    * warehouse), so there is nowhere to move parts — identical to
    * ClickHouse configured with a single default volume. `GROUP BY` /
    * `RECOMPRESS` TTL actions are refused loudly rather than silently
    * mis-applied. */
  private[dialect] def parseTtlSpec(t: String): Option[String] = {
    val parts = SqlScan(t).split(',').map(_.trim).filter(_.nonEmpty)
    val rest = parts.filterNot(p => // movement clauses: accepted no-ops
      "(?is)\\bTO\\s+(DISK|VOLUME)\\s".r.findFirstIn(p).isDefined)
    rest.find(p =>
      "(?is)\\b(GROUP\\s+BY|RECOMPRESS|WHERE)\\b".r.findFirstIn(p).isDefined)
      .foreach(p => throw new IllegalArgumentException(
        s"unsupported TTL action (only DELETE and TO DISK/VOLUME parse): $p"))
    rest match {
      case Nil => None // movement-only TTL: nothing for merges to apply
      case one :: Nil =>
        Some("(?is)\\s+DELETE\\s*$".r.replaceAllIn(one, ""))
      case _ => throw new IllegalArgumentException(
        s"multiple DELETE TTL expressions in one table TTL: $t")
    }
  }

  /** The `ENGINE = ...` tail of a statement, verbatim (the clone form's
    * optional engine override). */
  private def engineOverrideOf(s: String): Option[String] =
    "(?is)\\bENGINE\\s*=\\s*(.+)$".r.findFirstMatchIn(s)
      .map(m => "ENGINE = " + m.group(1).trim)

  /** Parsed column-definition tail: the bare type plus its modifiers.
    * `ephemeral` is Some("") for a bare EPHEMERAL (no default). */
  private[dialect] case class ColTail(tpe: String,
                                      default: Option[String],
                                      comment: Option[String],
                                      materialized: Option[String] = None,
                                      alias: Option[String] = None,
                                      ephemeral: Option[String] = None)

  /** Split a column definition's tail (`Type [DEFAULT expr |
    * MATERIALIZED expr | ALIAS expr | EPHEMERAL [expr]]
    * [COMMENT 'text'] [CODEC(...)]`, any order) — ClickHouse's column
    * decorations. `CODEC` is accepted and dropped (a DOCUMENTED no-op:
    * parquet applies its own column compression; there is no per-column
    * codec to honor). `MATERIALIZED expr` is computed on every insert,
    * never insertable, hidden from `SELECT *`; `ALIAS expr` has no
    * storage at all and computes at read; `EPHEMERAL [expr]` exists
    * only inside an INSERT (other columns' DEFAULT/MATERIALIZED
    * expressions may read it, nothing stores it) — all ClickHouse
    * semantics. Column-level TTL is refused loudly rather than
    * mis-parsed as part of the type. */
  private def splitColDefault(cn: String, ct: String): ColTail = {
    val sc = SqlScan(ct)
    if (sc.keyword("TTL") >= 0) throw new IllegalArgumentException(
      s"column-level TTL is not supported (column $cn); " +
        "use a table-level TTL clause for row expiry")
    // every modifier start, in text order; each segment runs to the
    // next modifier (expressions never contain these words at depth 0)
    val marks =
      Seq("DEFAULT", "MATERIALIZED", "ALIAS", "EPHEMERAL", "COMMENT", "CODEC")
        .map(k => k -> sc.keyword(k)).filter(_._2 >= 0).sortBy(_._2)
    val tpe = marks.headOption.map(m => ct.substring(0, m._2).trim)
      .getOrElse(ct.trim)
    if (tpe.isEmpty) throw new IllegalArgumentException(
      s"column $cn: missing type before ${marks.head._1}")
    var default: Option[String] = None
    var comment: Option[String] = None
    var materialized: Option[String] = None
    var alias: Option[String] = None
    var ephemeral: Option[String] = None
    marks.zipWithIndex.foreach { case ((kw, at), i) =>
      val end = marks.lift(i + 1).map(_._2).getOrElse(ct.length)
      val body = ct.substring(at + kw.length, end).trim
      kw match {
        case "DEFAULT" =>
          if (body.isEmpty) throw new IllegalArgumentException(
            s"column $cn: empty DEFAULT expression")
          default = Some(body)
        case "MATERIALIZED" =>
          if (body.isEmpty) throw new IllegalArgumentException(
            s"column $cn: empty MATERIALIZED expression")
          materialized = Some(body)
        case "ALIAS" =>
          if (body.isEmpty) throw new IllegalArgumentException(
            s"column $cn: empty ALIAS expression")
          alias = Some(body)
        case "EPHEMERAL" =>
          ephemeral = Some(body) // "" = no default value
        case "COMMENT" =>
          if (!(body.startsWith("'") && body.endsWith("'") && body.length >= 2))
            throw new IllegalArgumentException(
              s"column $cn: COMMENT takes a quoted string, got: $body")
          comment = Some(body.substring(1, body.length - 1).replace("''", "'"))
        case "CODEC" =>
          if (!body.startsWith("(") || !body.endsWith(")"))
            throw new IllegalArgumentException(
              s"column $cn: CODEC takes a parenthesized codec list")
          () // accepted, dropped — see the doc comment
      }
    }
    if (Seq(default, materialized, alias, ephemeral).count(_.isDefined) > 1)
      throw new IllegalArgumentException(
        s"column $cn: DEFAULT / MATERIALIZED / ALIAS / EPHEMERAL are " +
          "mutually exclusive")
    ColTail(tpe, default, comment, materialized, alias, ephemeral)
  }

  /** An INSERT column list naming a column the table doesn't have must
    * error (ClickHouse: NO_SUCH_COLUMN_IN_TABLE) — the fill loop below
    * only copies names that match, so a typo would otherwise silently
    * DROP that value and store the default instead. Listing a
    * MATERIALIZED column errors too (ClickHouse: "Cannot insert column
    * ..., because it is MATERIALIZED column"). */
  private def requireTableCols(spark: SparkSession, name: String,
      listed: Seq[String],
      full: org.apache.spark.sql.types.StructType): Unit = {
    val eph = ephemeralDefs(spark, name)
    listed.find(c => aliasDefs(spark, name).exists(_._1.equalsIgnoreCase(c)))
      .foreach(c => throw new IllegalArgumentException(
        s"cannot insert column $c of $name: it is an ALIAS column " +
          "(computed at read, never stored)"))
    listed.find(c => !full.fields.exists(_.name.equalsIgnoreCase(c)) &&
        !eph.exists(_._1.equalsIgnoreCase(c)))
      .foreach(c => throw new IllegalArgumentException(
        s"INSERT column list: no column $c in table $name"))
    val mat = materializedCols(spark, name)
    listed.find(c => mat(c.toLowerCase))
      .foreach(c => throw new IllegalArgumentException(
        s"cannot insert column $c of $name: it is a MATERIALIZED column " +
          "(always computed, never inserted)"))
  }

  /** The table's ALIAS columns (name, CH type, expr) — no storage;
    * computed at read by [[aliasEnrich]]. */
  private[graft] def aliasDefs(spark: SparkSession,
                               name: String): Seq[(String, String, String)] =
    tables.get(normalize(spark, name)).map(_.columnAliases).getOrElse(Nil)

  /** The table's EPHEMERAL columns (name, CH type, default expr or "")
    * — insert-time-only inputs other columns' DEFAULT/MATERIALIZED
    * expressions may read; nothing stores them. */
  private[graft] def ephemeralDefs(spark: SparkSession,
                                   name: String): Seq[(String, String, String)] =
    tables.get(normalize(spark, name)).map(_.columnEphemeral).getOrElse(Nil)

  /** Attach the table's ALIAS columns to a frame in dependency order
    * (an alias may reference other aliases; cycles refuse loudly),
    * cast to the declared type. Purely declarative — Catalyst's column
    * pruning drops any alias the query never references, so the scan
    * reads nothing extra for unused aliases. */
  private[graft] def aliasEnrich(spark: SparkSession, name: String,
                                 df0: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val defs = aliasDefs(spark, name)
    if (defs.isEmpty) return df0
    var df = df0
    var pending = defs.toList
    while (pending.nonEmpty) {
      val (ready, blocked) = pending.partition { a =>
        val e = Transpiler.transpile(a._3)
        pending.filterNot(_._1 == a._1)
          .forall(p => identRe(p._1).findFirstIn(e).isEmpty)
      }
      if (ready.isEmpty) throw new IllegalArgumentException(
        s"cyclic ALIAS expressions among columns " +
          s"${pending.map(_._1).mkString(", ")} of $name")
      ready.foreach { a =>
        df = df.withColumn(a._1, expr(Transpiler.transpile(a._3))
          .cast(org.apache.spark.sql.types.DataType.fromDDL(
            Transpiler.mapTypeNames(a._2))))
      }
      pending = blocked
    }
    df
  }

  /** Identifier-boundary, case-insensitive match for a column name
    * inside an expression text (shared by the default-chain resolver,
    * RENAME's expression rewrite and DROP's reference guard). */
  private def identRe(name: String): scala.util.matching.Regex =
    ("(?i)(?<![\\w`])" + java.util.regex.Pattern.quote(name) +
      "(?![\\w`])").r

  /** Expand `named` — a block holding SOME of the table's insertable
    * columns (matched case-insensitively, ClickHouse's resolution) —
    * to the full insertable column set in table order. Missing columns
    * evaluate their declared DEFAULT expressions; a default may
    * reference the block's provided columns AND other omitted
    * defaulted columns (`b DEFAULT a * 2, c DEFAULT b + 1` — ClickHouse
    * resolves the chain), so fills apply in dependency order; cyclic
    * chains refuse loudly. Columns with no DEFAULT fill NULL (this
    * engine's columns are nullable, the `Nullable(T)` behavior;
    * ClickHouse's non-Nullable zero-fill applies to a nullability
    * notion parquet storage doesn't carry). EPHEMERAL columns —
    * provided in the block or filled from their own defaults — ride
    * along AFTER the insertable set (declared order) so the aligned
    * append can feed them to MATERIALIZED expressions before dropping
    * them. The single home for the omitted-column rule: VALUES,
    * column-list SELECT, text formats and the binary bulk formats all
    * funnel here. */
  private[dialect] def fillInsertable(spark: SparkSession, name: String,
                                      named: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val full = spark.table(name.replace("`", "")).schema
    val meta = tables.get(normalize(spark, name))
    val fields = insertableFields(spark, name, full)
    def has(df: DataFrame, n: String) = df.columns.exists(_.equalsIgnoreCase(n))
    val defaults = meta.map(_.columnDefaults).getOrElse(Nil)
    def defaultOf(n: String) = defaults.find(_._1.equalsIgnoreCase(n)).map(_._2)
    // 1) missing non-defaulted columns become NULL first (a default
    //    expression may legitimately read them)
    var df = fields.foldLeft(named) { (d, f) =>
      if (has(d, f.name) || defaultOf(f.name).isDefined) d
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }
    // 1b) EPHEMERAL columns not provided by the block fill from their
    //     own declared defaults (or NULL) — the storage defaults below
    //     may read them (ClickHouse's evaluation order)
    df = fillEphemerals(spark, name, df)
    // 2) missing defaulted columns in dependency order
    var pending = fields.filter(f => !has(df, f.name)).toList
    while (pending.nonEmpty) {
      val (ready, blocked) = pending.partition { f =>
        val e = Transpiler.transpile(defaultOf(f.name).get)
        pending.forall(p => identRe(p.name).findFirstIn(e).isEmpty)
      }
      if (ready.isEmpty) throw new IllegalArgumentException(
        s"cyclic DEFAULT expressions among columns " +
          s"${pending.map(_.name).mkString(", ")} of $name")
      ready.foreach { f =>
        df = df.withColumn(f.name,
          expr(Transpiler.transpile(defaultOf(f.name).get)).cast(f.dataType))
      }
      pending = blocked
    }
    val ephs = meta.map(_.columnEphemeral).getOrElse(Nil)
    df.select((fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq ++
      ephs.map(e => col(e._1).cast(org.apache.spark.sql.types.DataType
        .fromDDL(Transpiler.mapTypeNames(e._2))).as(e._1))): _*)
  }

  /** Add any of the table's EPHEMERAL columns missing from `df`: the
    * declared default expression (which may read the block's provided
    * columns and other ephemerals — dependency-ordered, cycles refuse)
    * or NULL. Provided ephemerals pass through untouched. No-op for
    * tables without ephemerals. */
  private def fillEphemerals(spark: SparkSession, name: String,
                             df0: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val ephs = tables.get(normalize(spark, name))
      .map(_.columnEphemeral).getOrElse(Nil)
    if (ephs.isEmpty) return df0
    def typeOf(e: (String, String, String)) =
      org.apache.spark.sql.types.DataType.fromDDL(
        Transpiler.mapTypeNames(e._2))
    def present(d: DataFrame, n: String) =
      d.columns.exists(_.equalsIgnoreCase(n))
    var df = df0
    ephs.filter(e => !present(df, e._1) && e._3.isEmpty).foreach { e =>
      df = df.withColumn(e._1, lit(null).cast(typeOf(e)))
    }
    var pending = ephs.filter(e => !present(df, e._1)).toList
    while (pending.nonEmpty) {
      val (ready, blocked) = pending.partition { e =>
        val x = Transpiler.transpile(e._3)
        pending.forall(p => identRe(p._1).findFirstIn(x).isEmpty)
      }
      if (ready.isEmpty) throw new IllegalArgumentException(
        s"cyclic EPHEMERAL default expressions among columns " +
          s"${pending.map(_._1).mkString(", ")} of $name")
      ready.foreach { e =>
        df = df.withColumn(e._1,
          expr(Transpiler.transpile(e._3)).cast(typeOf(e)))
      }
      pending = blocked
    }
    df
  }

  /** The columns an INSERT provides values for: every physical column
    * minus the derived `_part` partition key and minus MATERIALIZED
    * columns (always computed, never insertable — ClickHouse
    * semantics). */
  private[dialect] def insertableFields(spark: SparkSession, name: String,
      full: org.apache.spark.sql.types.StructType)
      : Array[org.apache.spark.sql.types.StructField] = {
    val mat = tables.get(normalize(spark, name))
      .map(_.columnMaterialized.map(_._1)).getOrElse(Nil)
    full.fields.filterNot(_.name == "_part")
      .filterNot(f => mat.exists(_.equalsIgnoreCase(f.name)))
  }

  /** The table's materialized-column names (lowercased), for the star
    * rewrite and the insert guards. */
  private[graft] def materializedCols(spark: SparkSession,
                                      name: String): Set[String] =
    tables.get(normalize(spark, name))
      .map(_.columnMaterialized.map(_._1.toLowerCase).toSet)
      .getOrElse(Set.empty)

  /** For a CollapsingMergeTree / VersionedCollapsingMergeTree table:
    * (sorting key, sign column, version column or "" for the
    * unversioned engine). */
  def collapsingMeta(spark: SparkSession,
                     name: String): Option[(Seq[String], String, String)] =
    tables.get(normalize(spark, name))
      .flatMap(m => m.collapsing.map { case (s, v) => (m.orderBy, s, v) })

  /** The collapse a CollapsingMergeTree FINAL merge performs (the CDC
    * ingest idiom — reference surface main.py:190 via chdb): per
    * sorting key the ±1 `sign` rows net out — net 0 removes the key
    * entirely, a positive net keeps one state (+1) row, a negative net
    * one cancel (−1) row. ClickHouse keeps the LAST state / FIRST
    * cancel by insertion order, which parquet storage doesn't track;
    * the deterministic md5-fingerprint tie-break stands in, and in
    * correct collapsing usage there is exactly one candidate row per
    * key anyway. With a version column (VersionedCollapsingMergeTree)
    * the net is per (key, version), so a cancel row only annihilates
    * the generation it duplicates — order-independent, exactly the
    * guarantee the versioned engine adds. One hash shuffle on the key
    * feeds both window passes. */
  private[dialect] def collapsingFold(df: DataFrame, keys: Seq[String],
                                      signCol: String, ver: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val keyCols = (if (df.columns.contains("_part")) Seq(col("_part"))
      else Nil) ++ // CH merges within partitions
      (keys ++ (if (ver.nonEmpty) Seq(ver) else Nil)).map { k =>
        if (df.columns.contains(k)) col(k)
        else org.apache.spark.sql.functions.expr(Transpiler.transpile(k))
      }
    val wNet = org.apache.spark.sql.expressions.Window.partitionBy(keyCols: _*)
    val fp = md5(to_json(struct(df.columns.map(col).toIndexedSeq: _*)))
    val wPick = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols: _*).orderBy(fp.asc)
    df.withColumn("__net", sum(col(signCol)).over(wNet))
      .filter(col("__net") =!= 0 &&
        col(signCol).cast("long") === signum(col("__net")).cast("long"))
      .withColumn("__rn", row_number().over(wPick))
      .filter(col("__rn") === 1)
      .drop("__net", "__rn")
  }

  /** The keep-latest dedup a ReplacingMergeTree merge performs: one row
    * per sorting key; with a version column the max version wins,
    * without one ClickHouse itself keeps an unspecified row — here the
    * tie-break is the row's md5 fingerprint, so results are
    * deterministic across runs. One window shuffle on the key. */
  private[dialect] def replacingDedup(df: DataFrame, keys: Seq[String],
                                      ver: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val orderCol =
      if (ver.nonEmpty) col(ver).desc
      else md5(to_json(struct(df.columns.map(col).toIndexedSeq: _*))).asc
    // sorting keys may be expressions (intHash32(u)) — transpile those;
    // the partition column joins the keys (CH merges within partitions)
    val keyCols = (if (df.columns.contains("_part")) Seq(col("_part"))
      else Nil) ++ keys.map { k =>
      if (df.columns.contains(k)) col(k)
      else org.apache.spark.sql.functions.expr(Transpiler.transpile(k))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols: _*).orderBy(orderCol)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  private val createDbRe =
    "(?is)^\\s*CREATE\\s+DATABASE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?(.+?)\\s*$".r
  private val createTableRe =
    ("(?is)^\\s*CREATE\\s+(TEMPORARY\\s+)?TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?([\\w`.]+)\\s*" +
      "\\((.*)\\)\\s*ENGINE\\s*=\\s*(\\w+)\\s*(?:\\(\\s*([^)]*)\\))?(.*)$").r
  // CREATE TABLE ... [ENGINE=...] AS SELECT — no column list; the
  // SELECT provides the schema. The ENGINE clause (with its
  // PARTITION/ORDER BY suffix) is optional, defaulting to Memory.
  private val ctasRe =
    ("(?is)^\\s*CREATE\\s+(TEMPORARY\\s+)?TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
      "([\\w`.]+)\\s*(?:ENGINE\\s*=\\s*(\\w+)\\s*(?:\\(\\s*([^)]*)\\))?" +
      "(.*?))?\\s+AS\\s+(SELECT|WITH)\\b(.*)$").r
  // CREATE TABLE t2 AS t1 [ENGINE=...] — structure clone, no data
  private val createCloneRe =
    ("(?is)^\\s*CREATE\\s+TABLE\\s+(?:(IF\\s+NOT\\s+EXISTS)\\s+)?" +
      "([\\w`.]+)\\s+AS\\s+([\\w`.]+)\\s*(?:ENGINE\\s*=.*)?$").r
  // TEMPORARY with no ENGINE clause (ClickHouse defaults it to Memory)
  private val createTempTableRe =
    ("(?is)^\\s*CREATE\\s+TEMPORARY\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?([\\w`.]+)\\s*" +
      "\\((.*)\\)\\s*$").r
  /** MergeTree table-suffix clauses, parsed with a paren/quote-aware
    * scan (keywords match only at nesting depth 0, so ORDER BY keys may
    * nest calls arbitrarily — `cityHash64(toString(x))` works; the old
    * regexes stopped at one level). Returns keyword → clause body. */
  private val suffixKeywordRe =
    ("(?i)(?<![\\w`])(PARTITION\\s+BY|ORDER\\s+BY|SAMPLE\\s+BY|PRIMARY\\s+KEY|" +
      "TTL|SETTINGS|COMMENT)(?![\\w`])").r
  private[graft] def suffixClauses(rest: String): Map[String, String] = {
    // '_' counts as an identifier char, so a column named
    // `user_settings` never false-matches SETTINGS
    val sc = SqlScan(rest)
    val hits = sc.codeMatches(suffixKeywordRe).filter(m => sc.depth(m.start) == 0)
      .toSeq
    hits.zipWithIndex.map { case (m, k) =>
      val until = if (k + 1 < hits.length) hits(k + 1).start else rest.length
      m.group(1).toUpperCase.split("\\s+").mkString(" ") ->
        rest.substring(m.end, until).trim
    }.toMap
  }

  /** `DROP VIEW [IF EXISTS] db.v`: (IF EXISTS, db, v). */
  private val dropViewRe =
    "(?is)^\\s*DROP\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?`?(\\w+)`?\\.`?(\\w+)`?\\s*$".r

  private val createViewRe =
    ("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?(MATERIALIZED\\s+)?VIEW\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([\\w`.]+)" +
      "(?:\\s+TO\\s+([\\w`.]+))?" +
      "(?:\\s+ENGINE\\s*=\\s*\\w+(?:\\([^)]*\\))?[\\w\\s()=,]*?)?" +
      "(\\s+POPULATE)?\\s+AS\\s+(SELECT.+)$").r

  private val alterAddColRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+ADD\\s+COLUMN\\s+(IF\\s+NOT\\s+EXISTS\\s+)?(.+)$".r
  private val alterDropColRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+DROP\\s+COLUMN\\s+(IF\\s+EXISTS\\s+)?([\\w`]+)\\s*$".r
  private val alterRenameColRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+RENAME\\s+COLUMN\\s+" +
      "(IF\\s+EXISTS\\s+)?([\\w`]+)\\s+TO\\s+([\\w`]+)\\s*$").r
  private val alterModifyColRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+MODIFY\\s+COLUMN\\s+" +
      "(IF\\s+EXISTS\\s+)?([\\w`]+)\\s+(.+?)\\s*$").r
  private val alterModifyTtlRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+MODIFY\\s+TTL\\s+(.+)$".r
  private val alterRemoveTtlRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+REMOVE\\s+TTL\\s*$".r
  private val renameTableRe =
    "(?is)^\\s*RENAME\\s+TABLE\\s+(.+)$".r
  private val exchangeTablesRe =
    "(?is)^\\s*EXCHANGE\\s+TABLES\\s+([\\w`.]+)\\s+AND\\s+([\\w`.]+)\\s*$".r
  private val createDictRe =
    ("(?is)^\\s*CREATE\\s+DICTIONARY\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
      "([\\w`.]+)\\s*\\((.*)$").r
  private val dropDictRe =
    "(?is)^\\s*DROP\\s+DICTIONARY\\s+(IF\\s+EXISTS\\s+)?([\\w`.]+)\\s*$".r
  private val showDictRe = "(?is)^\\s*SHOW\\s+DICTIONARIES\\s*$".r
  // SQL-defined UDFs (macros; UserFunctions.scala)
  private val createFunctionRe =
    ("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?FUNCTION\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([\\w`]+)\\s+AS\\s+(.+)$").r
  private val dropFunctionRe =
    "(?is)^\\s*DROP\\s+FUNCTION\\s+(IF\\s+EXISTS\\s+)?([\\w`]+)\\s*$".r
  // ClickHouse DROP DATABASE drops the database WITH its tables (and
  // accepts SYNC); Spark demands an explicit CASCADE for non-empty
  private val dropDatabaseRe =
    ("(?is)^\\s*DROP\\s+DATABASE\\s+(IF\\s+EXISTS\\s+)?([\\w`]+)" +
      "(\\s+SYNC)?\\s*$").r
  private val showProcesslistRe = "(?is)^\\s*SHOW\\s+PROCESSLIST\\s*$".r
  private val setStmtRe = "(?is)^\\s*SET\\s+(.+)$".r
  private val systemReloadDictRe =
    ("(?is)^\\s*SYSTEM\\s+RELOAD\\s+" +
      "(?:DICTIONARY\\s+([\\w`.]+)|DICTIONARIES)\\s*$").r

  /** `CREATE DICTIONARY name (key UInt64, attr Type [DEFAULT x], ...)
    * PRIMARY KEY key SOURCE(CLICKHOUSE(TABLE 'src')) LAYOUT(...)
    * LIFETIME(...)`. `tail` starts right after the column list's
    * opening paren. LAYOUT/LIFETIME are accepted and dropped (every
    * layout maps to the same in-plan map literal; refresh is the
    * SYSTEM RELOAD pull model). */
  private def createDictionary(spark: SparkSession, ifNot: Boolean,
                               name: String, tail: String): DataFrame = {
    // the column list's closing paren (`tail` starts inside it)
    val close = SqlScan("(" + tail).closing(0)
    if (close < 0) throw new IllegalArgumentException(
      s"CREATE DICTIONARY $name: unbalanced column list")
    val colsStr = tail.substring(0, close - 1)
    val rest = tail.substring(close)
    val pk = "(?is)PRIMARY\\s+KEY\\s+(.+?)(?=\\bSOURCE\\b|\\bLAYOUT\\b|\\bLIFETIME\\b|\\bSETTINGS\\b|$)".r
      .findFirstMatchIn(rest).map(_.group(1).trim)
      .getOrElse(throw new IllegalArgumentException(
        s"CREATE DICTIONARY $name: missing PRIMARY KEY"))
    if (pk.contains(","))
      throw new IllegalArgumentException(
        s"CREATE DICTIONARY $name: composite keys are not supported — " +
          "JOIN the source table for multi-column lookups")
    val keyCol = pk.replace("`", "")
    val source = "(?is)\\bTABLE\\s+(?:'([^']+)'|([\\w`.]+))".r
      .findFirstMatchIn(rest)
      .map(m => Option(m.group(1)).getOrElse(m.group(2)))
      .getOrElse(throw new IllegalArgumentException(
        s"CREATE DICTIONARY $name: SOURCE must name a TABLE"))
    // RANGE(MIN lo MAX hi) → RANGE_HASHED validity-interval columns
    val range = "(?is)\\bRANGE\\s*\\(\\s*MIN\\s+([\\w`]+)\\s+MAX\\s+([\\w`]+)\\s*\\)".r
      .findFirstMatchIn(rest)
      .map(m => (m.group(1).replace("`", ""), m.group(2).replace("`", "")))
    // LIFETIME(n) = LIFETIME(MIN n MAX n) — refresh window in seconds;
    // a lookup past MAX re-reads the source lazily (pull model)
    val lifetime =
      "(?is)\\bLIFETIME\\s*\\(\\s*(?:MIN\\s+(\\d+)\\s+MAX\\s+(\\d+)|(\\d+))\\s*\\)".r
        .findFirstMatchIn(rest).map { m =>
          Option(m.group(3)) match {
            case Some(n) => (n.toLong, n.toLong)
            case None => (m.group(1).toLong, m.group(2).toLong)
          }
        }
    val rangeCols = range.toSeq.flatMap(r => Seq(r._1, r._2))
      .map(_.toLowerCase).toSet
    val colRe = "(?is)^\\s*([\\w`]+)\\s+(.+?)(?:\\s+DEFAULT\\s+(.+))?\\s*$".r
    val attrs = SqlScan(colsStr).split(',').map(_.trim).filter(_.nonEmpty)
      .flatMap {
        case colRe(n, t, d) =>
          val cn = n.replace("`", "")
          if (cn.equalsIgnoreCase(keyCol) || rangeCols(cn.toLowerCase)) None
          else Some(Dictionaries.Attr(cn, t.trim, Option(d).map(_.trim)))
        case bad => throw new IllegalArgumentException(
          s"CREATE DICTIONARY $name: bad attribute definition: $bad")
      }
    if (attrs.isEmpty) throw new IllegalArgumentException(
      s"CREATE DICTIONARY $name: needs at least one non-key attribute")
    if (Dictionaries.exists(name) && !ifNot)
      throw new IllegalArgumentException(s"Dictionary $name already exists")
    // validate the source exists and carries the declared columns now
    // (ClickHouse validates at CREATE too); also back the dictionary's
    // table face — `SELECT * FROM dict` — with a session view
    val src = spark.table(source.replace("`", ""))
    val cols = (keyCol +: (range.toSeq.flatMap(r => Seq(r._1, r._2)) ++
        attrs.map(_.name))).map { c =>
      src.schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"CREATE DICTIONARY $name: column $c not in $source")).name
    }
    Dictionaries.create(spark, name, keyCol, attrs, source, ifNot, range,
      lifetime)
    CatalogStore.saveDictionaries(spark)
    val bareN0 = name.replace("`", "")
    src.select(cols.head, cols.tail: _*).createOrReplaceTempView(
      bareN0.substring(bareN0.lastIndexOf('.') + 1))
    spark.emptyDataFrame
  }

  private val alterDeleteRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+DELETE" +
      "(?:\\s+IN\\s+PARTITION\\s+(?:ID\\s+)?('?[\\w]+'?))?\\s+WHERE\\s+(.+)$").r
  // ClickHouse 22.8+ lightweight-delete spelling; same mutation here
  // (the parquet model has no delete masks — every delete is the
  // copy-on-write rewrite ALTER DELETE also performs)
  private val deleteFromRe =
    "(?is)^\\s*DELETE\\s+FROM\\s+([\\w`.]+)\\s+WHERE\\s+(.+)$".r
  // Only the head is regex-matched; the assignment list / IN PARTITION
  // / WHERE split happens on depth-0-outside-string scans in the
  // handler — a string literal containing the words "in partition" or
  // "where" must not split the statement (SqlScan.keyword is the
  // string-aware locator the optional-regex-group form lacked).
  private val alterUpdateRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+UPDATE\\s+(.+)$".r
  // partition lifecycle (ClickHouse's cheap data-management tier: at
  // 100 TB, retention is a partition metadata op, never a rewrite)
  private val alterDropPartRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+DROP\\s+PARTITION\\s+(?:ID\\s+)?(.+?)\\s*$".r
  private val alterDetachPartRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+DETACH\\s+PARTITION\\s+(?:ID\\s+)?(.+?)\\s*$".r
  private val alterAttachPartRe =
    "(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+ATTACH\\s+PARTITION\\s+(?:ID\\s+)?(.+?)\\s*$".r
  // cross-table partition surgery (matched BEFORE the single-table
  // forms — their lazy (.+?) would swallow the FROM clause)
  // table PROJECTIONs (per-part materialized aggregates, Projections.scala)
  private val addProjectionRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+ADD\\s+PROJECTION\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([\\w`]+)\\s*\\(\\s*SELECT\\s+(.+?)" +
      "\\s+GROUP\\s+BY\\s+(.+?)\\s*\\)\\s*$").r
  private val dropProjectionRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+DROP\\s+PROJECTION\\s+" +
      "(IF\\s+EXISTS\\s+)?([\\w`]+)\\s*$").r
  private val materializeProjectionRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+MATERIALIZE\\s+PROJECTION\\s+" +
      "([\\w`]+)\\s*$").r
  // data-skipping indexes (per-file stats manifests, SkipIndexes.scala)
  private val addIndexRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+ADD\\s+INDEX\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([\\w`]+)\\s+(.+?)\\s+TYPE\\s+" +
      "(\\w+(?:\\s*\\([^)]*\\))?)(?:\\s+GRANULARITY\\s+(\\d+))?\\s*$").r
  private val dropIndexRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+DROP\\s+INDEX\\s+" +
      "(IF\\s+EXISTS\\s+)?([\\w`]+)\\s*$").r
  private val materializeIndexRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+MATERIALIZE\\s+INDEX\\s+" +
      "([\\w`]+)\\s*$").r
  private val clearIndexRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+CLEAR\\s+INDEX\\s+" +
      "([\\w`]+)\\s*$").r
  // FREEZE/UNFREEZE: local partition snapshots (ClickHouse's backup
  // primitive — hardlinks under shadow/<increment>; here `_shadow/`,
  // the underscore being the parquet mapping's hidden-dir convention
  // so scans never see snapshot files)
  private val alterFreezeRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+FREEZE" +
      "(?:\\s+PARTITION\\s+(?:ID\\s+)?('?[\\w]+'?))?" +
      "(?:\\s+WITH\\s+NAME\\s+'([^']+)')?\\s*$").r
  private val alterUnfreezeRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+UNFREEZE" +
      "(?:\\s+PARTITION\\s+(?:ID\\s+)?('?[\\w]+'?))?" +
      "\\s+WITH\\s+NAME\\s+'([^']+)'\\s*$").r
  private val alterPartFromRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+(REPLACE|ATTACH)\\s+" +
      "PARTITION\\s+(?:ID\\s+)?(.+?)\\s+FROM\\s+([\\w`.]+)\\s*$").r
  private val alterMovePartRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w`.]+)\\s+MOVE\\s+PARTITION\\s+" +
      "(?:ID\\s+)?(.+?)\\s+TO\\s+TABLE\\s+([\\w`.]+)\\s*$").r

  def isDdl(sql: String): Boolean =
    ("(?is)^\\s*(CREATE|DROP|UNDROP|USE|INSERT|TRUNCATE|ALTER|OPTIMIZE" +
      "|SHOW|DESCRIBE|DESC|EXISTS|RENAME|SYSTEM|SET|EXCHANGE|DELETE" +
      "|DETACH|ATTACH)\\b").r
      .findFirstIn(sql).isDefined

  private val undropTableRe =
    "(?is)^\\s*UNDROP\\s+TABLE\\s+([\\w`.]+)\\s*$".r
  private val detachTableRe =
    ("(?is)^\\s*DETACH\\s+TABLE\\s+(?:(IF\\s+EXISTS)\\s+)?([\\w`.]+)" +
      "(\\s+PERMANENTLY)?\\s*$").r
  private val attachTableRe =
    "(?is)^\\s*ATTACH\\s+TABLE\\s+(?:(IF\\s+NOT\\s+EXISTS)\\s+)?([\\w`.]+)\\s*$".r

  /** Tables detached THIS session (plain DETACH): invisible to queries
    * but their name stays reserved — CREATE over it refuses. A restart
    * re-attaches them (ClickHouse semantics); PERMANENTLY writes a
    * marker the warehouse restore honors instead. */
  private val detachedNames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `DETACH TABLE t [PERMANENTLY]`: forget the table in the catalog
    * but keep its directory (data + meta + index manifests) exactly
    * where it is — ATTACH re-registers from the meta file, metadata
    * only, zero data movement. Only durable (meta-carrying) tables can
    * detach; projections do not survive (their stores are separate
    * tables — same documented boundary as UNDROP). */
  private def detachTable(spark: SparkSession, ifExists: Boolean,
                          name0: String, permanently: Boolean): DataFrame = {
    val bare = name0.replace("`", "")
    val exists =
      try spark.catalog.tableExists(bare) catch { case _: Throwable => false }
    if (!exists) {
      if (ifExists) return spark.emptyDataFrame
      throw new IllegalArgumentException(s"cannot DETACH $bare: no such table")
    }
    val norm = normalize(spark, bare)
    // Buffer engine: ClickHouse flushes buffers to the destination on
    // DETACH/shutdown — staged rows must not be parked invisibly
    SpecialEngines.flushIfBuffer(spark, norm)
    val loc = tableLoc(spark, bare)
    if (!java.nio.file.Files.isRegularFile(loc.resolve("_graft_meta.json")))
      throw new IllegalArgumentException(
        s"cannot DETACH $norm: not a durable (meta-carrying) table")
    val Array(db, tbl) = norm.split("\\.", 2)
    // Projections do not survive a DETACH (their stores are separate
    // tables, hard-dropped here). Forget them and RE-SAVE the meta
    // file BEFORE the catalog drop — otherwise the on-disk
    // _graft_meta.json keeps the projection defs (complete=true) and a
    // JVM restart's auto-re-attach resurrects them over a store that
    // no longer exists: the next INSERT would recreate the store with
    // only that batch's partial and GROUP BYs would silently rewrite
    // to wrong aggregates. Mirrors restoreOne's re-save after UNDROP.
    Projections.forTable(norm).foreach { p =>
      try spark.sql(s"DROP TABLE IF EXISTS ${p.store}")
      catch { case _: Throwable => () }
    }
    Projections.forgetInMemory(norm)
    CatalogStore.save(spark, norm)
    // flip MANAGED -> EXTERNAL so the catalog drop leaves the files
    val ec = spark.sharedState.externalCatalog
    ec.alterTable(ec.getTable(db, tbl).copy(
      tableType = org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL))
    spark.sql(s"DROP TABLE `$db`.`$tbl`")
    tables.remove(norm)
    SkipIndexes.forgetInMemory(norm)
    if (permanently)
      try java.nio.file.Files.createFile(
        loc.resolve(CatalogStore.DetachedMarker))
      catch { case _: Throwable => () }
    detachedNames.add(norm)
    spark.emptyDataFrame
  }

  /** `ATTACH TABLE t`: re-register a detached table from its on-disk
    * meta file. */
  private def attachTable(spark: SparkSession, ifNotExists: Boolean,
                          name0: String): DataFrame = {
    val bare = name0.replace("`", "")
    val norm = normalize(spark, bare)
    if (spark.catalog.tableExists(bare)) {
      if (ifNotExists) return spark.emptyDataFrame
      throw new IllegalArgumentException(
        s"cannot ATTACH $norm: a table with this name exists")
    }
    val Array(db, tbl) = norm.split("\\.", 2)
    val dir = CatalogStore.managedLocation(spark, db, tbl)
    if (!java.nio.file.Files.isRegularFile(dir.resolve("_graft_meta.json")))
      throw new IllegalArgumentException(
        s"cannot ATTACH $norm: no detached data at $dir")
    try java.nio.file.Files.deleteIfExists(
      dir.resolve(CatalogStore.DetachedMarker))
    catch { case _: Throwable => () }
    detachedNames.remove(norm)
    if (!CatalogStore.restoreOne(spark, dir) ||
        !spark.catalog.tableExists(bare))
      throw new IllegalStateException(s"ATTACH $norm: restore failed")
    spark.emptyDataFrame
  }

  /** ClickHouse keeps a dropped table's data for
    * `database_atomic_delay_before_drop_table_sec` (480 s default)
    * before the final delete; UNDROP inside that window restores it. */
  private val DropGraceMs = 480L * 1000

  /** DROP TABLE: stage the managed directory (data + meta + skip-index
    * manifest) into the warehouse trash instead of deleting — UNDROP
    * can then restore it within the grace window. `SYNC` (ClickHouse's
    * wait-for-full-removal form) deletes immediately. Tables without a
    * durable meta file (foreign/temporary) hard-drop as before. The
    * move is a directory rename: at 100 TB a DROP stays O(1), exactly
    * like ClickHouse's rename into metadata_dropped/. */
  private def dropTableStaged(spark: SparkSession, ifExists: Boolean,
                              name0: String, sync: Boolean): DataFrame = {
    val bare = name0.replace("`", "")
    purgeExpiredDropped(spark)
    val exists =
      try spark.catalog.tableExists(bare) catch { case _: Throwable => false }
    if (!exists) // IF EXISTS: no-op; else raise Spark's standard error
      return if (ifExists) spark.emptyDataFrame
             else spark.sql(s"DROP TABLE $bare")
    val norm = normalize(spark, bare)
    val loc = try Some(tableLoc(spark, bare)) catch { case _: Throwable => None }
    val staged = !sync && CatalogStore.enabled(spark) && loc.exists(d =>
      java.nio.file.Files.isRegularFile(d.resolve("_graft_meta.json")))
    if (!staged) return spark.sql(s"DROP TABLE $bare")
    val Array(db, tbl) = norm.split("\\.", 2)
    // flip MANAGED -> EXTERNAL so the catalog drop leaves the files
    val ec = spark.sharedState.externalCatalog
    try ec.alterTable(ec.getTable(db, tbl).copy(
      tableType = org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL))
    catch { case _: Throwable => return spark.sql(s"DROP TABLE $bare") }
    val out = spark.sql(s"DROP TABLE `$db`.`$tbl`")
    try {
      val root = CatalogStore.droppedDir(spark)
      java.nio.file.Files.createDirectories(root)
      // drop/recreate/drop of the same name within one millisecond must
      // not collide (a swallowed FileAlreadyExistsException would orphan
      // the stage and leave UNDROP restoring the OLDER generation) —
      // bump the stamp until the name is free; the stamp stays a plain
      // millis so the grace-window parsing is untouched
      var ts = System.currentTimeMillis()
      while (java.nio.file.Files.exists(root.resolve(s"$db.$tbl.$ts"))) ts += 1
      java.nio.file.Files.move(loc.get, root.resolve(s"$db.$tbl.$ts"))
    } catch { case _: Throwable => () } // best effort: a failed stage
                                        // leaves an orphan dir, which
                                        // cleanOrphanLocation handles
    out
  }

  /** `UNDROP TABLE t`: move the newest trashed directory back to its
    * managed location and re-register it (schema, MergeTree metadata,
    * skip indexes). Projections do not come back — their store tables
    * were hard-deleted at DROP (documented divergence; ClickHouse keeps
    * them inside the parts). */
  private def undropTable(spark: SparkSession, name0: String): DataFrame = {
    purgeExpiredDropped(spark) // the grace window binds UNDROP itself
    val bare = name0.replace("`", "")
    val norm = normalize(spark, bare)
    if (spark.catalog.tableExists(bare))
      throw new IllegalArgumentException(
        s"cannot UNDROP $norm: a table with this name exists")
    val Array(db, tbl) = norm.split("\\.", 2)
    val root = CatalogStore.droppedDir(spark)
    val prefix = s"$db.$tbl."
    val newest = listDirs(root)
      .filter(p => p.getFileName.toString.startsWith(prefix) &&
        p.getFileName.toString.stripPrefix(prefix).forall(_.isDigit))
      .sortBy(_.getFileName.toString.stripPrefix(prefix).toLong)
      .lastOption.getOrElse(throw new IllegalArgumentException(
        s"no recently dropped table $norm to UNDROP"))
    // validate BEFORE the move: an unreadable meta would otherwise
    // strand the data at the managed location with no catalog entry and
    // no trash entry — where the next CREATE's cleanOrphanLocation
    // would silently wipe exactly what UNDROP was trying to save
    if (!java.nio.file.Files.isRegularFile(newest.resolve("_graft_meta.json")))
      throw new IllegalStateException(
        s"UNDROP $norm: dropped data has no readable _graft_meta.json")
    val target = CatalogStore.managedLocation(spark, db, tbl)
    java.nio.file.Files.createDirectories(target.getParent)
    java.nio.file.Files.move(newest, target)
    val ok = try CatalogStore.restoreOne(spark, target) &&
      spark.catalog.tableExists(bare) catch { case _: Throwable => false }
    if (!ok) {
      // restore failed after the move: put the data BACK in the trash
      // (same timestamped name, so the grace window keeps counting from
      // the original drop) before surfacing the error
      try java.nio.file.Files.move(target, newest)
      catch { case _: Throwable => () }
      throw new IllegalStateException(s"UNDROP $norm: restore failed")
    }
    spark.emptyDataFrame
  }

  /** Trash entries past the ClickHouse grace window die lazily on the
    * next DROP (no background thread to leak). */
  private def purgeExpiredDropped(spark: SparkSession): Unit = try {
    val now = System.currentTimeMillis()
    listDirs(CatalogStore.droppedDir(spark)).foreach { p =>
      val ts = p.getFileName.toString.split("\\.").lastOption
        .filter(_.forall(_.isDigit)).map(_.toLong)
      if (ts.exists(now - _ > DropGraceMs)) graft.LocalFs.deleteTree(p)
    }
  } catch { case _: Throwable => () }

  private def listDirs(d: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!java.nio.file.Files.isDirectory(d)) Nil
    else {
      val s = java.nio.file.Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toList.filter(java.nio.file.Files.isDirectory(_))
      } finally s.close()
    }

  /** `system.dropped_tables` face: what UNDROP can still restore. */
  private[graft] def droppedTablesSnapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    purgeExpiredDropped(spark) // never list what UNDROP would refuse
    listDirs(CatalogStore.droppedDir(spark)).flatMap { p =>
      val n = p.getFileName.toString
      val i = n.lastIndexOf('.')
      val j = n.indexOf('.')
      if (i <= j || !n.substring(i + 1).forall(_.isDigit)) None
      else Some((n.substring(0, j), n.substring(j + 1, i),
        new java.sql.Timestamp(n.substring(i + 1).toLong)))
    }.sortBy(r => (r._1, r._2))
      .toDF("database", "table", "table_dropped_time")
  }

  /** Execute one ClickHouse DDL/DML statement. */
  def execute(spark: SparkSession, sql: String): DataFrame = {
    val s = sql.trim.stripSuffix(";")
    s match {
      case createDictRe(ifNot, name, tail) =>
        createDictionary(spark, Option(ifNot).isDefined, name, tail)
      case dropDictRe(ifExists, name) =>
        Dictionaries.drop(name, Option(ifExists).isDefined)
        CatalogStore.saveDictionaries(spark)
        val bareN = name.replace("`", "")
        spark.catalog.dropTempView(
          bareN.substring(bareN.lastIndexOf('.') + 1))
        spark.emptyDataFrame
      case showDictRe() =>
        import spark.implicits._
        Dictionaries.names.toDF("name")
      case createFunctionRe(orReplace, ifNot, name, lambda) =>
        UserFunctions.create(spark, name, lambda, Option(ifNot).isDefined,
          orReplace = Option(orReplace).isDefined)
        spark.emptyDataFrame
      case dropFunctionRe(ifEx, name) =>
        UserFunctions.drop(spark, name, Option(ifEx).isDefined)
        spark.emptyDataFrame
      case dropDatabaseRe(ifEx, name0, _) =>
        // ClickHouse semantics: the database goes WITH its tables. All
        // in-memory registries for those tables must go too — a later
        // same-named CREATE must start clean (the EXCHANGE/RENAME
        // hygiene invariant, database-wide).
        val db = name0.replace("`", "").toLowerCase
        if (db == "system" || db == "default")
          throw new IllegalArgumentException(s"cannot drop database $db")
        val norms = tables.keys.filter(_.startsWith(db + ".")).toList
        norms.foreach { norm =>
          tables.remove(norm)
          SkipIndexes.forgetInMemory(norm)
          Projections.forTable(norm).foreach { p =>
            try spark.sql(s"DROP TABLE IF EXISTS ${p.store}")
            catch { case _: Throwable => () }
          }
          Projections.forgetInMemory(norm)
        }
        // materialized views die with the database whenever their name,
        // target or source lives in it — including MVs over tables the
        // registry never saw — and the removal must PERSIST, or the
        // central matviews.json resurrects them on the next restart,
        // fanning inserts into deleted targets
        val dbPrefix = db + "."
        matViews.filter { case (name, mv) =>
          name.toLowerCase.startsWith(dbPrefix) ||
            mv.target.toLowerCase.startsWith(dbPrefix) ||
            mv.src.toLowerCase.startsWith(dbPrefix)
        }.keys.foreach(matViews.remove)
        CatalogStore.saveMatViews(spark)
        // delayed-drop entries die with the database (ClickHouse removes
        // them too): otherwise system.dropped_tables keeps listing
        // tables of a destroyed database, and after a same-named CREATE
        // DATABASE an UNDROP would resurrect a table from the dropped
        // generation
        try listDirs(CatalogStore.droppedDir(spark))
          .filter(_.getFileName.toString.toLowerCase.startsWith(db + "."))
          .foreach(graft.LocalFs.deleteTree)
        catch { case _: Throwable => () }
        spark.sql(s"DROP DATABASE ${Option(ifEx).getOrElse("")} `$db` CASCADE")
      case showProcesslistRe() =>
        Engine.processesSnapshot(spark)
      case setStmtRe(assignments) =>
        // `SET k = v[, ...]` — session-scoped; per-query SETTINGS win.
        // Unknown names accepted+ignored (the reference passes them
        // through to chdb the same way)
        val kv = SqlScan(assignments).split(',').flatMap { a =>
          val i = a.indexOf('=')
          if (i < 0) None
          else Some(a.substring(0, i).trim.toLowerCase ->
            a.substring(i + 1).trim.stripPrefix("'").stripSuffix("'"))
        }
        Engine.setSessionSettings(spark, kv)
        spark.emptyDataFrame
      case systemReloadDictRe(name) =>
        Dictionaries.invalidate(Option(name).map(_.trim))
        spark.emptyDataFrame
      case _ if "(?is)^\\s*SYSTEM\\b".r.findFirstIn(s).isDefined =>
        // other SYSTEM verbs (FLUSH LOGS, DROP * CACHE, STOP/START
        // MERGES, ...) are server-maintenance hints with no result
        // contract here: accepted no-ops, like the reference's chdb
        spark.emptyDataFrame
      case createDbRe(ifNot, name) =>
        spark.sql(s"CREATE DATABASE ${Option(ifNot).getOrElse("")} $name")
      case createViewRe(orReplace, mat, ifNot, name, toTgt, populate, body) =>
        if (Option(mat).isDefined)
          createMaterializedView(spark, Option(orReplace).isDefined,
            Option(ifNot).isDefined, name,
            Option(toTgt), Option(populate).isDefined, body)
        else {
          // Session-scoped: persistent Spark views cannot reference the
          // temp-registered dialect functions
          // (INVALID_TEMP_OBJ_REFERENCE), so views live per session
          // under their bare name — matching the per-credential
          // session model.
          val bare = name.substring(name.lastIndexOf('.') + 1).replace("`", "")
          if (!(Option(ifNot).isDefined && spark.catalog.tableExists(bare)))
            spark.sql(Transpiler.transpile(body)).createOrReplaceTempView(bare)
          spark.emptyDataFrame
        }
      case createCloneRe(ifNot, newName, srcName)
          if !srcName.replace("`", "").matches("(?i)(select|with)") =>
        // `CREATE TABLE t2 AS t1 [ENGINE=E]`: structure clone —
        // columns, defaults, comments, indexes and (unless overridden)
        // the engine with its PARTITION/ORDER/SAMPLE BY/TTL tail.
        // Implementation: SHOW CREATE round-trips (spec-guaranteed), so
        // the clone IS the source's SHOW CREATE with the name swapped
        // (+ optional engine-tail swap). No data is copied (CH
        // semantics).
        val src = srcName.replace("`", "")
        spark.table(src) // must exist — Spark's standard error if not
        val stmt0 = showCreateTable(spark, src).collect().head.getString(0)
        val ine = if (ifNot != null) "IF NOT EXISTS " else ""
        var stmt = stmt0.replaceFirst("(?s)^CREATE TABLE [^\\n]+\\n",
          java.util.regex.Matcher.quoteReplacement(
            s"CREATE TABLE $ine${newName.replace("`", "")}\n"))
        engineOverrideOf(s).foreach { ov =>
          val cut = stmt.indexOf("\nENGINE = ")
          stmt = stmt.substring(0, cut) + "\n" + ov
        }
        execute(spark, stmt)
      case createTableRe(temp, ifNot, name, cols, engine, engineArgs, rest) =>
        // TEMPORARY: session-lifetime table (ClickHouse drops it when
        // the session ends). It lands in the session's CURRENT database
        // — per-credential sessions each have their own — and registers
        // for drop at session eviction/purge (dropTempTables).
        val out = createTable(spark, Option(ifNot).isDefined, name, cols,
          engine, Option(engineArgs).map(_.trim).getOrElse(""), rest,
          persist = Option(temp).isEmpty)
        if (Option(temp).isDefined) registerTempTable(spark, name)
        out
      case ctasRe(temp, ifNot, name, engine, engineArgs, rest, selKw, selRest) =>
        // CREATE TABLE ... [ENGINE=...] AS SELECT: schema comes from the
        // SELECT (run through the full engine, so dialect rewrites
        // apply); the engine clause's PARTITION/ORDER BY metadata is
        // honored like an explicit-columns CREATE, and the result lands
        // through the same MergeTree insert layout
        val df = Engine.execute(spark, selKw + selRest)
        if (Option(ifNot).isDefined &&
            spark.catalog.tableExists(name.replace("`", ""))) spark.emptyDataFrame
        else {
          // bare type names (no Nullable(...) wrapper): the created
          // parquet columns are nullable regardless, like every other
          // CREATE in this mapping
          val colsDdl = df.schema.fields.map(f =>
            s"`${f.name}` ${graft.formats.ChTypeNames.fieldName(f.copy(nullable = false))}")
            .mkString(", ")
          createTable(spark, Option(ifNot).isDefined, name, colsDdl,
            Option(engine).getOrElse("Memory"),
            Option(engineArgs).map(_.trim).getOrElse(""),
            Option(rest).getOrElse(""), persist = Option(temp).isEmpty)
          if (Option(temp).isDefined) registerTempTable(spark, name)
          appendAligned(spark, name, df)
          spark.emptyDataFrame
        }
      case createTempTableRe(ifNot, name, cols) =>
        // TEMPORARY with ENGINE omitted: ClickHouse defaults to Memory
        val out = createTable(spark, Option(ifNot).isDefined, name, cols,
          "Memory", "", "", persist = false)
        registerTempTable(spark, name)
        out
      case _ if "(?is)^\\s*INSERT\\b".r.findFirstIn(s).isDefined =>
        insert(spark, s)
      case alterDeleteRe(name, inPart, cond) =>
        // `IN PARTITION p` scopes the rewrite to one partition — at
        // scale the difference between one month and the whole table
        val del = (df: DataFrame) => df.filter(
          org.apache.spark.sql.functions.not(
            org.apache.spark.sql.functions.expr(Transpiler.transpile(cond))))
        Option(inPart) match {
          case Some(p) => mutatePartition(spark, name, parsePartValue(p), del)
          case None => mutate(spark, name, del)
        }
      case deleteFromRe(name, cond) =>
        mutate(spark, name, df => df.filter(
          org.apache.spark.sql.functions.not(
            org.apache.spark.sql.functions.expr(Transpiler.transpile(cond)))))
      case alterUpdateRe(name, updateTail) =>
        // ALTER TABLE t UPDATE a = expr, b = expr [IN PARTITION p] WHERE cond
        val rest = updateTail.trim
        val wherePos = SqlScan(rest).keyword("WHERE")
        if (wherePos < 0) throw new IllegalArgumentException(
          s"ALTER TABLE UPDATE needs a WHERE clause: $rest")
        val cond = rest.substring(wherePos + "WHERE".length).trim
        val head = rest.substring(0, wherePos).trim
        // optional `IN PARTITION [ID] p` tail: located as a depth-0
        // outside-string PARTITION token directly preceded by IN (an
        // assignment's `x IN (...)` has `(` there, a string literal
        // never reaches the scan)
        val pPos = SqlScan(head).keyword("PARTITION")
        val partClause: Option[(Int, String)] =
          if (pPos <= 0) None
          else "(?is)\\bIN\\s*$".r.findFirstMatchIn(head.substring(0, pPos))
            .flatMap { im =>
              "(?is)^PARTITION\\s+(?:ID\\s+)?('?[\\w]+'?)\\s*$".r
                .findFirstMatchIn(head.substring(pPos))
                .map(pm => (im.start, pm.group(1)))
            }
        val assignments = partClause.map(c => head.substring(0, c._1).trim)
          .getOrElse(head)
        val inPart: String = partClause.map(_._2).orNull
        val sets = SqlScan(assignments).split(',').map { a =>
          val Array(c, e) = a.split("=", 2)
          c.trim.replace("`", "") -> Transpiler.transpile(e.trim)
        }
        // MATERIALIZED columns are computed, never assigned (ClickHouse
        // refuses mutations on them)
        locally {
          val mat = materializedCols(spark, name)
          sets.map(_._1).find(c => mat(c.toLowerCase))
            .foreach(c => throw new IllegalArgumentException(
              s"cannot UPDATE column $c: it is a MATERIALIZED column"))
          // ALIAS/EPHEMERAL columns have no storage to mutate — an
          // UPDATE naming one would silently ADD a physical column
          sets.map(_._1).find(c =>
            (aliasDefs(spark, name) ++ ephemeralDefs(spark, name))
              .exists(_._1.equalsIgnoreCase(c)))
            .foreach(c => throw new IllegalArgumentException(
              s"cannot UPDATE column $c: it has no storage " +
                "(ALIAS/EPHEMERAL column)"))
        }
        val upd = (df: DataFrame) => {
          import org.apache.spark.sql.functions.{expr, when, col}
          val condC = expr(Transpiler.transpile(cond))
          sets.foldLeft(df) { case (d, (c, e)) =>
            d.withColumn(c, when(condC, expr(e)).otherwise(col(c)))
          }
        }
        Option(inPart) match {
          case Some(p) =>
            // updating a partition-source column under IN PARTITION
            // would re-derive _part and land rows in ANOTHER partition,
            // where the scoped dynamic overwrite would replace that
            // partition wholesale — refuse, like ClickHouse refuses
            // partition-key updates in mutations
            tables.get(normalize(spark, name)).flatMap(_.partitionExpr)
              .foreach { pe =>
                sets.map(_._1).find(c =>
                  ("(?i)(?<![\\w])" + java.util.regex.Pattern.quote(c) +
                    "(?![\\w])").r.findFirstIn(pe).isDefined)
                  .foreach(c => throw new IllegalArgumentException(
                    s"cannot UPDATE column $c: it feeds the PARTITION BY " +
                      s"expression ($pe)"))
              }
            mutatePartition(spark, name, parsePartValue(p), upd)
          case None => mutate(spark, name, upd)
        }
      case addProjectionRe(name, ifNot, pname, sel, keys) =>
        Projections.add(spark, normalize(spark, name),
          pname.replace("`", ""), sel, keys, Option(ifNot).isDefined)
        spark.emptyDataFrame
      case dropProjectionRe(name, ifEx, pname) =>
        Projections.drop(spark, normalize(spark, name),
          pname.replace("`", ""), Option(ifEx).isDefined)
        spark.emptyDataFrame
      case materializeProjectionRe(name, pname) =>
        Projections.materialize(spark, normalize(spark, name),
          pname.replace("`", ""))
        spark.emptyDataFrame
      case addIndexRe(name, ifNot, iname, expr, tpe, gran) =>
        SkipIndexes.add(spark, normalize(spark, name),
          iname.replace("`", ""), expr.trim.replace("`", ""), tpe,
          Option(gran).map(_.toInt).getOrElse(1), Option(ifNot).isDefined)
        spark.emptyDataFrame
      case dropIndexRe(name, ifEx, iname) =>
        SkipIndexes.drop(spark, normalize(spark, name),
          iname.replace("`", ""), Option(ifEx).isDefined)
        spark.emptyDataFrame
      case materializeIndexRe(name, iname) =>
        SkipIndexes.materialize(spark, normalize(spark, name),
          iname.replace("`", ""))
        spark.emptyDataFrame
      case clearIndexRe(name, iname) =>
        SkipIndexes.clear(spark, normalize(spark, name),
          iname.replace("`", ""))
        spark.emptyDataFrame
      case alterFreezeRe(name, part, withName) =>
        freezePartition(spark, name, Option(part).map(parsePartValue),
          Option(withName))
      case alterUnfreezeRe(name, part, withName) =>
        unfreezePartition(spark, name, Option(part).map(parsePartValue),
          withName)
      case alterPartFromRe(dst, verb, part, src) =>
        copyPartitionFrom(spark, dst, src, parsePartValue(part),
          replace = verb.equalsIgnoreCase("REPLACE"), move = false)
      case alterMovePartRe(src, part, dst) =>
        copyPartitionFrom(spark, dst, src, parsePartValue(part),
          replace = false, move = true)
      case alterDropPartRe(name, part) =>
        dropPartition(spark, name, parsePartValue(part))
      case alterDetachPartRe(name, part) =>
        detachPartition(spark, name, parsePartValue(part))
      case alterAttachPartRe(name, part) =>
        attachPartition(spark, name, parsePartValue(part))
      case alterAddColRe(name, ifNot, colDef) =>
        val t = colDef.trim
        val sp = t.indexOf(' ')
        val (cn, ct0) = (t.substring(0, sp).trim, t.substring(sp + 1).trim)
        val tail0 = splitColDefault(cn, ct0)
        val (ct, defExpr) = (tail0.tpe, tail0.default)
        val exists = Option(ifNot).isDefined && spark.table(name.replace("`", ""))
          .columns.exists(_.equalsIgnoreCase(cn.replace("`", "")))
        if (exists) spark.emptyDataFrame
        else if (tail0.alias.isDefined || tail0.ephemeral.isDefined) {
          // no storage — a pure metadata add (nothing to backfill)
          val key = normalize(spark, name)
          val c = cn.replace("`", "")
          val m0 = tables.getOrElse(key, TableMeta(None, Nil))
          val already = (m0.columnAliases ++ m0.columnEphemeral)
            .exists(_._1.equalsIgnoreCase(c))
          if (already && Option(ifNot).isDefined) spark.emptyDataFrame
          else if (already) throw new IllegalArgumentException(
            s"column $c already exists in $name")
          else {
            tables.put(key, m0.copy(
              columnAliases = m0.columnAliases ++
                tail0.alias.map(e => (c, ct, e)),
              columnEphemeral = m0.columnEphemeral ++
                tail0.ephemeral.map(e => (c, ct, e)),
              columnComments = m0.columnComments ++
                tail0.comment.map(c -> _)))
            CatalogStore.save(spark, name)
            spark.emptyDataFrame
          }
        } else if (tables.get(normalize(spark, name)).exists(m =>
            (m.columnAliases ++ m.columnEphemeral)
              .exists(_._1.equalsIgnoreCase(cn.replace("`", ""))))) {
          if (Option(ifNot).isDefined) spark.emptyDataFrame
          else throw new IllegalArgumentException(
            s"column ${cn.replace("`", "")} already exists in $name " +
              "(as an ALIAS/EPHEMERAL column)")
        } else {
          val sparkType = Transpiler.mapTypeNames(ct)
          val out = spark.sql(
            s"ALTER TABLE $name ADD COLUMNS ($cn $sparkType)")
          tail0.comment.foreach { cm =>
            val key = normalize(spark, name)
            tables.put(key, tables.getOrElse(key, TableMeta(None, Nil))
              .copy(columnComments = tables.get(key)
                .map(_.columnComments).getOrElse(Nil) :+
                (cn.replace("`", "") -> cm)))
          }
          (defExpr ++ tail0.materialized).foreach { e =>
            // register for future INSERTs, then materialize into the
            // EXISTING rows (ClickHouse computes the default lazily on
            // old parts and bakes it in at the next merge; here the
            // bake happens eagerly — one distributed rewrite, the same
            // cost model as this engine's mutations)
            val key = normalize(spark, name)
            val c = cn.replace("`", "")
            tables.put(key, tables.getOrElse(key, TableMeta(None, Nil))
              .copy(columnDefaults =
                if (defExpr.isDefined) tables.get(key)
                  .map(_.columnDefaults).getOrElse(Nil) :+ (c -> e)
                else tables.get(key).map(_.columnDefaults).getOrElse(Nil),
                columnMaterialized =
                if (tail0.materialized.isDefined) tables.get(key)
                  .map(_.columnMaterialized).getOrElse(Nil) :+ (c -> e)
                else tables.get(key).map(_.columnMaterialized).getOrElse(Nil)))
            reshape(spark, name, df => df.withColumn(c,
              org.apache.spark.sql.functions.expr(Transpiler.transpile(e))
                .cast(org.apache.spark.sql.types.DataType
                  .fromDDL(sparkType))))
          }
          CatalogStore.save(spark, name)
          out
        }
      case alterDropColRe(name, ifExists, col0) =>
        val c = col0.replace("`", "")
        guardKeyColumn(spark, name, c, "DROP")
        val key = normalize(spark, name)
        // another column's DEFAULT referencing the dropped column
        // would leave an unresolvable expression behind — the next
        // subset INSERT (or alias read) fails at analysis. Refuse now
        // (ClickHouse refuses these too), naming the dependent.
        def guardDependents(): Unit = tables.get(key).foreach { m =>
          (m.columnDefaults.map(("DEFAULT", _)) ++
            m.columnMaterialized.map(("MATERIALIZED", _)) ++
            m.columnAliases.map(a => ("ALIAS", (a._1, a._3))) ++
            m.columnEphemeral.filter(_._3.nonEmpty)
              .map(e => ("EPHEMERAL default", (e._1, e._3))))
            .filterNot(_._2._1.equalsIgnoreCase(c))
            .find { case (_, (_, e)) => identRe(c).findFirstIn(e).isDefined }
            .foreach { case (kind, (n, e)) =>
              throw new IllegalArgumentException(
                s"cannot DROP COLUMN $c: column $n's $kind ($e) " +
                  s"references it — drop or modify that $kind first") }
        }
        val virtual = tables.get(key).exists(m =>
          (m.columnAliases ++ m.columnEphemeral)
            .exists(_._1.equalsIgnoreCase(c)))
        if (virtual) {
          // ALIAS/EPHEMERAL: registry-only removal, nothing physical
          guardDependents()
          tables.get(key).foreach(m => tables.put(key, m.copy(
            columnAliases = m.columnAliases
              .filterNot(_._1.equalsIgnoreCase(c)),
            columnEphemeral = m.columnEphemeral
              .filterNot(_._1.equalsIgnoreCase(c)),
            columnComments = m.columnComments
              .filterNot(_._1.equalsIgnoreCase(c)))))
          CatalogStore.save(spark, name)
          spark.emptyDataFrame
        } else {
          val present = spark.table(name.replace("`", ""))
            .columns.exists(_.equalsIgnoreCase(c))
          if (!present && Option(ifExists).isDefined) spark.emptyDataFrame
          else {
            guardDependents()
            tables.get(key).foreach(m => tables.put(key, m.copy(
              columnDefaults = m.columnDefaults
                .filterNot(_._1.equalsIgnoreCase(c)),
              columnComments = m.columnComments
                .filterNot(_._1.equalsIgnoreCase(c)),
              columnMaterialized = m.columnMaterialized
                .filterNot(_._1.equalsIgnoreCase(c)))))
            reshape(spark, name, _.drop(c))
          }
        }
      case alterRenameColRe(name, ifExists, from0, to0) =>
        val (from, to) = (from0.replace("`", ""), to0.replace("`", ""))
        guardKeyColumn(spark, name, from, "RENAME")
        val key = normalize(spark, name)
        val virtual = tables.get(key).exists(m =>
          (m.columnAliases ++ m.columnEphemeral)
            .exists(_._1.equalsIgnoreCase(from)))
        val present = virtual || spark.table(name.replace("`", ""))
          .columns.exists(_.equalsIgnoreCase(from))
        if (!present && Option(ifExists).isDefined) spark.emptyDataFrame
        else {
          // rename the column's own entries AND rewrite every other
          // stored DEFAULT/MATERIALIZED/ALIAS/EPHEMERAL expression
          // referencing it (identifier-boundary substitution — without
          // this a later subset INSERT or alias read fails on the
          // unresolved old name)
          def ren(e: String) = identRe(from).replaceAllIn(e,
            java.util.regex.Matcher.quoteReplacement(to))
          tables.get(key).foreach(m => tables.put(key, m.copy(
            columnDefaults = m.columnDefaults.map { case (n, e) =>
              (if (n.equalsIgnoreCase(from)) to else n) -> ren(e) },
            columnMaterialized = m.columnMaterialized.map { case (n, e) =>
              (if (n.equalsIgnoreCase(from)) to else n) -> ren(e) },
            columnAliases = m.columnAliases.map { case (n, t, e) =>
              (if (n.equalsIgnoreCase(from)) to else n, t, ren(e)) },
            columnEphemeral = m.columnEphemeral.map { case (n, t, e) =>
              (if (n.equalsIgnoreCase(from)) to else n, t,
                if (e.isEmpty) e else ren(e)) },
            columnComments = m.columnComments.map { case (n, e) =>
              (if (n.equalsIgnoreCase(from)) to else n) -> e })))
          if (virtual) { // no physical column to move
            CatalogStore.save(spark, name)
            spark.emptyDataFrame
          } else reshape(spark, name, _.withColumnRenamed(from, to),
            renameKey = Map(from -> to))
        }
      case alterModifyColRe(name, ifExists, col0, newType)
          if !newType.trim.matches("(?i)^(COLUMN)\\b.*") =>
        // `MODIFY COLUMN c [Type] [DEFAULT expr]` and the
        // `REMOVE DEFAULT` form — a type change is a copy-on-write
        // cast rewrite; a DEFAULT change is metadata only
        val c = col0.replace("`", "")
        locally {
          val key = normalize(spark, name)
          tables.get(key).foreach { m =>
            if (m.columnAliases.exists(_._1.equalsIgnoreCase(c)))
              throw new IllegalArgumentException(
                s"cannot MODIFY COLUMN $c: it is an ALIAS column — " +
                  "DROP and re-ADD it with the new definition")
            if (m.columnEphemeral.exists(_._1.equalsIgnoreCase(c)))
              throw new IllegalArgumentException(
                s"cannot MODIFY COLUMN $c: it is an EPHEMERAL column — " +
                  "DROP and re-ADD it with the new definition")
          }
        }
        val present = spark.table(name.replace("`", ""))
          .columns.exists(_.equalsIgnoreCase(c))
        if (!present && Option(ifExists).isDefined) spark.emptyDataFrame
        else {
          val key = normalize(spark, name)
          val tail = newType.trim
          def setDefault(d: Option[String]): Unit = {
            tables.put(key, tables.getOrElse(key, TableMeta(None, Nil))
              .copy(columnDefaults = tables.get(key)
                .map(_.columnDefaults).getOrElse(Nil)
                .filterNot(_._1.equalsIgnoreCase(c)) ++ d.map(c -> _)))
            CatalogStore.save(spark, name)
          }
          def setComment(cm: String): Unit = {
            tables.put(key, tables.getOrElse(key, TableMeta(None, Nil))
              .copy(columnComments = tables.get(key)
                .map(_.columnComments).getOrElse(Nil)
                .filterNot(_._1.equalsIgnoreCase(c)) :+ (c -> cm)))
            CatalogStore.save(spark, name)
          }
          if (tail.matches("(?is)^REMOVE\\s+DEFAULT$")) {
            setDefault(None)
            spark.emptyDataFrame
          } else if (tail.matches("(?is)^REMOVE\\s+COMMENT$")) {
            tables.get(key).foreach(m => tables.put(key, m.copy(
              columnComments = m.columnComments
                .filterNot(_._1.equalsIgnoreCase(c)))))
            CatalogStore.save(spark, name)
            spark.emptyDataFrame
          } else {
            val (tpe, ct) =
              if ("(?is)^(DEFAULT|MATERIALIZED|COMMENT)\\s".r
                  .findFirstIn(tail).isDefined) {
                // modifier-only forms (no type change): reuse the
                // column-definition tail parser with the type absent
                ("", splitColDefault(c, s"__keep $tail"))
              } else {
                val t = splitColDefault(c, tail)
                (t.tpe, t)
              }
            if (tpe.nonEmpty) {
              val sparkType = Transpiler.mapTypeNames(tpe)
              reshape(spark, name, df => df.withColumn(c,
                org.apache.spark.sql.functions.col(c).cast(sparkType)))
            }
            ct.default.foreach(e => setDefault(Some(e)))
            // MODIFY ... MATERIALIZED expr swaps the computed
            // expression (future inserts only, like ClickHouse — old
            // parts keep their values until rewritten)
            ct.materialized.foreach { e =>
              tables.put(key, tables.getOrElse(key, TableMeta(None, Nil))
                .copy(columnMaterialized = tables.get(key)
                  .map(_.columnMaterialized).getOrElse(Nil)
                  .filterNot(_._1.equalsIgnoreCase(c)) :+ (c -> e)))
              CatalogStore.save(spark, name)
            }
            // MODIFY ... COMMENT 'x' updates the stored comment (was
            // silently dropped — the one wrong option)
            ct.comment.foreach(setComment)
            spark.emptyDataFrame
          }
        }
      case alterModifyTtlRe(name, t) =>
        // TTL is MergeTree metadata; like CREATE's TTL clause it takes
        // effect at the next merge (OPTIMIZE), not retroactively
        val key = normalize(spark, name)
        val cleaned = parseTtlSpec(t.trim)
        tables.put(key, tables.getOrElse(key, TableMeta(None, Nil))
          .copy(ttl = cleaned))
        CatalogStore.save(spark, name)
        spark.emptyDataFrame
      case alterRemoveTtlRe(name) =>
        val key = normalize(spark, name)
        tables.get(key).foreach(m => tables.put(key, m.copy(ttl = None)))
        CatalogStore.save(spark, name)
        spark.emptyDataFrame
      case exchangeTablesRe(aName, bName) =>
        // EXCHANGE TABLES a AND b — atomic in ClickHouse; here the
        // standard three-rename swap (same-database only, like Spark's
        // managed-table rename). MergeTree metadata follows contents.
        val a = normalize(spark, aName); val b = normalize(spark, bName)
        val db = a.substring(0, a.indexOf('.'))
        if (db != b.substring(0, b.indexOf('.')))
          throw new IllegalArgumentException(
            "EXCHANGE TABLES requires both tables in one database")
        val tmp = s"$db.graft_xchg_tmp"
        cleanOrphanLocation(spark, tmp)
        spark.sql(s"ALTER TABLE $a RENAME TO $tmp")
        spark.sql(s"ALTER TABLE $b RENAME TO $a")
        spark.sql(s"ALTER TABLE $tmp RENAME TO $b")
        val (ma, mb) = (tables.remove(a), tables.remove(b))
        ma.foreach(m => tables.put(b, m))
        mb.foreach(m => tables.put(a, m))
        // EXCHANGE drops both tables' projections and skip indexes
        // (documented divergence: carrying them would need a three-way
        // store/manifest swap; dropping can only cost performance,
        // keeping stale entries could answer from the WRONG table)
        for (t <- Seq(a, b)) {
          Projections.forTable(t).foreach { p =>
            try spark.sql(s"DROP TABLE IF EXISTS ${p.store}")
            catch { case _: Throwable => () }
          }
          Projections.forgetInMemory(t)
          // drops in-memory defs AND the persisted manifest in the
          // swapped directory — otherwise a JVM restart resurrects
          // index definitions whose stats key the other table's files
          SkipIndexes.onExchange(spark, t)
        }
        CatalogStore.save(spark, a)
        CatalogStore.save(spark, b)
        spark.emptyDataFrame
      case renameTableRe(pairs) =>
        // RENAME TABLE a TO b[, c TO d]: catalog rename (a metadata-only
        // move for managed tables); the MergeTree layout follows the key
        SqlScan(pairs).split(',').foreach { p =>
          val pm = "(?is)^\\s*([\\w`.]+)\\s+TO\\s+([\\w`.]+)\\s*$".r
            .findFirstMatchIn(p).getOrElse(throw new IllegalArgumentException(
              s"bad RENAME TABLE clause: $p"))
          val (from, to) = (pm.group(1), pm.group(2))
          val fromKey = normalize(spark, from)
          cleanOrphanLocation(spark, to) // stale warehouse dir blocks rename
          val oldDir =
            try tableLoc(spark, from.replace("`", "")).toString
            catch { case _: Throwable => "" }
          spark.sql(s"ALTER TABLE $from RENAME TO $to")
          tables.remove(fromKey).foreach(mm =>
            tables.put(normalize(spark, to), mm))
          // projections and skip indexes follow the table (ClickHouse
          // keeps both across RENAME); leaving registry entries keyed
          // under the old name would let a future table REUSING that
          // name inherit them — wrong answers from another table's
          // projection store
          Projections.onRename(spark, fromKey, normalize(spark, to))
          val newDir =
            try tableLoc(spark, to.replace("`", "")).toString
            catch { case _: Throwable => "" }
          SkipIndexes.onRename(spark, fromKey, normalize(spark, to),
            oldDir, newDir)
          // the meta file moved with the managed directory; rewrite it
          // so the recorded db/table match the new name
          CatalogStore.save(spark, to)
        }
        spark.emptyDataFrame
      case _ if "(?is)^\\s*OPTIMIZE\\s+TABLE\\b".r.findFirstIn(s).isDefined =>
        // For ReplacingMergeTree, OPTIMIZE ... FINAL forces the merge
        // that applies keep-latest dedup — materialize it (copy-on-
        // write, like the mutations). For other engines it is a
        // compaction hint with no visible result contract: no-op.
        val om = "(?is)^\\s*OPTIMIZE\\s+TABLE\\s+([\\w`.]+)".r
          .findFirstMatchIn(s).get
        // Buffer engine: OPTIMIZE is the manual flush (the ClickHouse
        // idiom) — staged rows move to the destination, nothing to merge
        if (SpecialEngines.flushIfBuffer(
            spark, normalize(spark, om.group(1))))
          return spark.emptyDataFrame
        // `OPTIMIZE ... PARTITION p` scopes the merge to one partition
        // (ClickHouse never merges across partitions; at scale this is
        // the difference between rewriting one month and the whole
        // table)
        val partOf = "(?is)\\bPARTITION\\s+(?:ID\\s+)?('?[\\w]+'?)".r
          .findFirstMatchIn(s).map(m => parsePartValue(m.group(1)))
        def mutateScoped(f: DataFrame => DataFrame): DataFrame =
          partOf match {
            case None => mutate(spark, om.group(1), f)
            case Some(p) => mutatePartition(spark, om.group(1), p, f)
          }
        val ttlOf = tables.get(normalize(spark, om.group(1))).flatMap(_.ttl)
        def withTtl(df: DataFrame): DataFrame = ttlOf match {
          // a merge applies row TTL: keep rows whose expiry is still
          // in the future (ClickHouse drops expired rows on merge)
          case Some(t) => df.filter(org.apache.spark.sql.functions
            .expr(Transpiler.transpile(t)) >
            org.apache.spark.sql.functions.current_timestamp())
          case None => df
        }
        // OPTIMIZE ... DEDUPLICATE [BY col, ...]: full-row (or listed-
        // column) dedup materialized on merge, any engine
        val dedupM = ("(?is)\\bDEDUPLICATE\\b(?:\\s+BY\\s+(.+?))?\\s*$").r
          .findFirstMatchIn(s)
        if (dedupM.isDefined) {
          val byCols = dedupM.get.group(1) match {
            case null => Nil
            case cs => SqlScan(cs).split(',').map(_.trim.replace("`", ""))
              .filter(_.nonEmpty)
          }
          mutateScoped { df =>
            val d = if (byCols.isEmpty) df.dropDuplicates()
                    else df.dropDuplicates(byCols)
            withTtl(d)
          }
        } else
        (replacingMeta(spark, om.group(1)), summingMeta(spark, om.group(1)),
          collapsingMeta(spark, om.group(1)),
          aggregatingMeta(spark, om.group(1))) match {
          case (Some((keys, ver)), _, _, _) if keys.nonEmpty =>
            mutateScoped(df => withTtl(replacingDedup(df, keys, ver)))
          case (_, Some((keys, cols)), _, _) if keys.nonEmpty =>
            mutateScoped(df => withTtl(summingMerge(df, keys, cols)))
          case (_, _, Some((keys, sign, ver)), _) if keys.nonEmpty =>
            mutateScoped(df => withTtl(collapsingFold(df, keys, sign, ver)))
          case (_, _, _, Some((keys, aggCols))) if keys.nonEmpty =>
            mutateScoped(df => withTtl(aggregatingMerge(df, keys, aggCols)))
          case _ if ttlOf.isDefined =>
            mutateScoped(withTtl)
          case _ =>
            // plain MergeTree: OPTIMIZE forces the merge ClickHouse
            // performs — here a compaction rewrite through the table's
            // layout, collapsing the one-file-set-per-INSERT
            // accumulation into few, fully ORDER-BY-clustered files.
            // At 100 TB this is the anti-small-files lever: scan
            // parallelism should come from row groups, not from
            // thousands of tiny parts. Foreign (non-DDL) tables have
            // no layout metadata and compact unordered.
            mutateScoped(identity)
        }
      // ---- client-compat introspection (ClickHouse output shapes:
      // drivers and UIs read these columns by NAME) ----
      case showDatabasesRe() =>
        spark.sql("SHOW DATABASES")
          .select(org.apache.spark.sql.functions.col("namespace").as("name"))
          .orderBy("name")
      case showTablesRe(db) =>
        val scope = Option(db).map(d => s"IN ${d.trim}").getOrElse("")
        spark.sql(s"SHOW TABLES $scope")
          .select(org.apache.spark.sql.functions.col("tableName").as("name"))
          .orderBy("name")
      case showCreateRe(name) => showCreateTable(spark, name)
      case describeRe(name) => describeTable(spark, name)
      case existsRe(name) =>
        val ok =
          try spark.catalog.tableExists(name.replace("`", ""))
          catch { case _: Throwable => false }
        import spark.implicits._
        Seq(if (ok) 1 else 0).toDF("result")
          .select(org.apache.spark.sql.functions.col("result").cast("smallint"))
      case _ if "(?is)^\\s*(DROP|USE|TRUNCATE)\\b".r.findFirstIn(s).isDefined =>
        val dropped = "(?is)^\\s*DROP\\s+(?:TABLE|VIEW)\\s+(?:IF\\s+EXISTS\\s+)?([\\w`.]+)".r
          .findFirstMatchIn(s).map(_.group(1).replace("`", ""))
        dropped.foreach(dropMaterializedView(spark, _))
        // dropped/truncated tables lose their projections' coverage
        ("(?is)^\\s*(?:DROP|TRUNCATE)\\s+TABLE\\s+(?:IF\\s+EXISTS\\s+)?([\\w`.]+)".r
          .findFirstMatchIn(s).map(_.group(1)))
          .foreach(n => Projections.invalidate(spark, normalize(spark, n)))
        // DROP TABLE: the managed-table delete removes the data AND the
        // persisted meta file; clear the in-memory registries too, so
        // a later same-name CREATE starts from a clean slate. The
        // table's projections die with it (ClickHouse semantics),
        // including their store tables.
        if ("(?is)^\\s*DROP\\s+TABLE\\b".r.findFirstIn(s).isDefined)
          dropped.foreach { n =>
            val norm = normalize(spark, n)
            tables.remove(norm)
            SkipIndexes.forgetInMemory(norm)
            Projections.forTable(norm).foreach { p =>
              try spark.sql(s"DROP TABLE IF EXISTS ${p.store}")
              catch { case _: Throwable => () }
            }
            Projections.forgetInMemory(norm)
          }
        // a Distributed face is a session view, not a catalog table
        dropped.map(n => n.substring(n.lastIndexOf('.') + 1).toLowerCase)
          .filter(distributedTargets.contains) match {
          case Some(face) =>
            distributedTargets.remove(face)
            spark.catalog.dropTempView(face)
            spark.emptyDataFrame
          case None =>
            val truncated =
              ("(?is)^\\s*TRUNCATE\\s+TABLE\\s+(?:IF\\s+EXISTS\\s+)?([\\w`.]+)".r
                .findFirstMatchIn(s).map(_.group(1)))
            val dropTableM =
              ("(?is)^\\s*DROP\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?([\\w`.]+)" +
                "(\\s+SYNC)?\\s*$").r.findFirstMatchIn(s)
            val out = (truncated, dropTableM) match {
              // a user-level TRUNCATE wipes the table dir: FREEZE
              // snapshots survive (staged aside, ClickHouse keeps
              // shadow/ across TRUNCATE), the durable meta file and
              // the skip-index manifest re-persist — definitions
              // survive a TRUNCATE, their stats do not (data gone)
              case (Some(n), _) =>
                val o = preservingShadow(spark, n.replace("`", "")) {
                  spark.sql(s)
                }
                CatalogStore.save(spark, n)
                SkipIndexes.onTruncate(spark, normalize(spark, n))
                o
              case (_, Some(m)) =>
                dropTableStaged(spark, Option(m.group(1)).isDefined,
                  m.group(2), sync = Option(m.group(3)).isDefined)
              case _ => dropViewRe.findFirstMatchIn(s) match {
                // CREATE VIEW registers `db.v` as the session view `v`
                case Some(m) if !scala.util.Try(spark.catalog.tableExists(
                    s"${m.group(2)}.${m.group(3)}")).getOrElse(false) =>
                  spark.sql(s"DROP VIEW ${Option(m.group(1)).getOrElse("")}`${m.group(3)}`")
                case _ => spark.sql(s)
              }
            }
            out
        }
      case undropTableRe(name) =>
        undropTable(spark, name)
      case detachTableRe(ifEx, name, perm) =>
        detachTable(spark, Option(ifEx).isDefined, name,
          permanently = Option(perm).isDefined)
      case attachTableRe(ifNot, name) =>
        attachTable(spark, Option(ifNot).isDefined, name)
      case other =>
        throw new IllegalArgumentException(s"unsupported DDL: $other")
    }
  }

  private val showDatabasesRe = "(?is)^\\s*SHOW\\s+DATABASES\\s*$".r
  private val showTablesRe =
    "(?is)^\\s*SHOW\\s+TABLES(?:\\s+(?:FROM|IN)\\s+([\\w`.]+))?\\s*$".r
  private val showCreateRe =
    "(?is)^\\s*SHOW\\s+CREATE\\s+(?:TABLE\\s+)?([\\w`.]+)\\s*$".r
  private val describeRe =
    "(?is)^\\s*(?:DESCRIBE|DESC)\\s+(?:TABLE\\s+)?([\\w`.]+)\\s*$".r
  private val existsRe =
    "(?is)^\\s*EXISTS\\s+(?:TABLE\\s+)?([\\w`.]+)\\s*$".r

  /** `SHOW CREATE TABLE t` in ClickHouse DDL — clients (DBeaver, the
    * Play UI, clickhouse-client \\sc) DISPLAY this text, so it must be
    * the dialect the user wrote, not Spark's createtab_stmt.
    * Synthesized from the live schema (ChTypeNames renders the CH type
    * of every column) + the stored MergeTree metadata (engine with its
    * merge inputs, PARTITION/ORDER/SAMPLE BY, TTL) + the table's skip
    * indexes, like ClickHouse's own output. Tables created outside the
    * dialect (no TableMeta) render as ENGINE=Memory equivalents. */
  private def showCreateTable(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val bare = name.replace("`", "")
    val norm = normalize(spark, bare)
    val meta = tables.get(norm)
    val cols = spark.table(bare).schema.fields.filterNot(_.name == "_part")
      .map { f =>
        val d = meta.flatMap(_.columnDefaults
            .find(_._1.equalsIgnoreCase(f.name)))
          .map(p => s" DEFAULT ${p._2}").getOrElse("")
        val mz = meta.flatMap(_.columnMaterialized
            .find(_._1.equalsIgnoreCase(f.name)))
          .map(p => s" MATERIALIZED ${p._2}").getOrElse("")
        val cm = meta.flatMap(_.columnComments
            .find(_._1.equalsIgnoreCase(f.name)))
          .map(p => s" COMMENT '${p._2.replace("'", "''")}'").getOrElse("")
        val chType = meta.flatMap(_.aggCols
            .find(_._1.equalsIgnoreCase(f.name)))
          .map(p => s"AggregateFunction(${p._2})")
          .getOrElse(graft.formats.ChTypeNames.fieldName(f))
        s"`${f.name}` $chType$d$mz$cm"
      }
    // ALIAS/EPHEMERAL columns have no physical field — rendered from
    // the stored (name, CH type, expr) metadata after the physical set
    val virtualCols = meta.toSeq.flatMap { m =>
      def cmOf(n: String) = m.columnComments
        .find(_._1.equalsIgnoreCase(n))
        .map(p => s" COMMENT '${p._2.replace("'", "''")}'").getOrElse("")
      m.columnAliases.map(a =>
        s"`${a._1}` ${a._2} ALIAS ${a._3}${cmOf(a._1)}") ++
        m.columnEphemeral.map(e =>
          s"`${e._1}` ${e._2} EPHEMERAL" +
            (if (e._3.nonEmpty) s" ${e._3}" else "") + cmOf(e._1))
    }
    val indexes = SkipIndexes.forTable(norm).sortBy(_.name).map { ix =>
      val g = if (ix.granularity != 1) s" GRANULARITY ${ix.granularity}" else ""
      s"INDEX ${ix.name} ${ix.exprKey} TYPE ${SkipIndexes.kindNameOf(ix.kind)}$g"
    }
    val engine = meta match {
      case Some(m) if m.engineSpec.isDefined => m.engineSpec.get
      case Some(m) if m.replacingVer.isDefined =>
        s"ReplacingMergeTree(${m.replacingVer.get})"
      case Some(m) if m.collapsing.isDefined =>
        val (sg, vr) = m.collapsing.get
        if (vr.isEmpty) s"CollapsingMergeTree($sg)"
        else s"VersionedCollapsingMergeTree($sg, $vr)"
      case Some(m) if m.summingCols.isDefined =>
        val cs = m.summingCols.get
        if (cs.isEmpty) "SummingMergeTree()"
        else s"SummingMergeTree(${cs.mkString(", ")})"
      case Some(m) if m.aggregating => "AggregatingMergeTree()"
      case Some(m) if m.partitionExpr.nonEmpty || m.orderBy.nonEmpty ||
          m.sampleBy.nonEmpty || m.ttl.nonEmpty => "MergeTree()"
      case _ => "Memory"
    }
    val clauses = meta.toSeq.flatMap { m =>
      m.partitionExpr.map(e => s"PARTITION BY $e").toSeq ++
        (if (m.orderBy.nonEmpty)
          Seq(s"ORDER BY (${m.orderBy.mkString(", ")})") else Nil) ++
        m.sampleBy.map(e => s"SAMPLE BY $e").toSeq ++
        m.ttl.map(e => s"TTL $e").toSeq ++
        m.tableComment.map(c =>
          s"COMMENT '${c.replace("'", "''")}'").toSeq
    }
    val stmt = s"CREATE TABLE $norm\n(\n    " +
      (cols ++ virtualCols ++ indexes).mkString(",\n    ") +
      s"\n)\nENGINE = $engine" +
      (if (clauses.isEmpty) "" else clauses.mkString("\n", "\n", ""))
    Seq(stmt).toDF("statement")
  }

  /** `DESCRIBE TABLE t` in the ClickHouse 7-column shape (clients read
    * name/type; DEFAULT columns carry their expression — no
    * codecs/TTLs). */
  private def describeTable(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val meta = tables.get(normalize(spark, name.replace("`", "")))
    val physical = spark.table(name.replace("`", "")).schema.fields.toSeq
      .map { f =>
        val d = meta.flatMap(_.columnDefaults
          .find(_._1.equalsIgnoreCase(f.name))).map(_._2)
        val mz = meta.flatMap(_.columnMaterialized
          .find(_._1.equalsIgnoreCase(f.name))).map(_._2)
        val cm = meta.flatMap(_.columnComments
          .find(_._1.equalsIgnoreCase(f.name))).map(_._2)
        val chType = meta.flatMap(_.aggCols
          .find(_._1.equalsIgnoreCase(f.name)))
          .map(p => s"AggregateFunction(${p._2})")
          .getOrElse(graft.formats.ChTypeNames.fieldName(f))
        (f.name, chType,
          if (mz.isDefined) "MATERIALIZED" else if (d.isDefined) "DEFAULT" else "",
          mz.orElse(d).getOrElse(""),
          cm.getOrElse(""), "", "")
      }
    // ALIAS/EPHEMERAL columns (no physical field) after the stored set
    val virtual = meta.toSeq.flatMap { m =>
      def cmOf(n: String) = m.columnComments
        .find(_._1.equalsIgnoreCase(n)).map(_._2).getOrElse("")
      m.columnAliases.map(a =>
        (a._1, a._2, "ALIAS", a._3, cmOf(a._1), "", "")) ++
        m.columnEphemeral.map(e =>
          (e._1, e._2, "EPHEMERAL", e._3, cmOf(e._1), "", ""))
    }
    (physical ++ virtual)
      .toDF("name", "type", "default_type", "default_expression",
        "comment", "codec_expression", "ttl_expression")
  }

  /** ClickHouse mutations (ALTER DELETE/UPDATE) as copy-on-write: read,
    * transform, overwrite — the same full-rewrite semantics ClickHouse
    * mutations have, expressed as one distributed job. */
  /** Live `system.parts` rows over every DDL-created MergeTree table:
    * one row per partition directory (the parquet model's active-part
    * granularity — merge/compaction generations don't exist here).
    * Shape follows ClickHouse system.parts' most-probed columns.
    * Metadata-scale work: per-partition row counts come from parquet
    * footers (count-only scan), byte sizes from the directory listing. */
  private[graft] def partsSnapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cat = spark.sessionState.catalog
    def dirSize(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(dirSize).sum).getOrElse(0L)
    val rows = tables.keys.toSeq.sorted.flatMap { key =>
      val Array(db, t) = key.split("\\.", 2)
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))
      try {
        if (!cat.tableExists(ident)) Nil
        else {
          val meta = tables(key)
          val engine =
            if (meta.replacingVer.nonEmpty) "ReplacingMergeTree"
            else if (meta.summingCols.nonEmpty) "SummingMergeTree"
            else if (meta.collapsing.exists(_._2.isEmpty)) "CollapsingMergeTree"
            else if (meta.collapsing.nonEmpty) "VersionedCollapsingMergeTree"
            else if (meta.aggregating) "AggregatingMergeTree"
            else "MergeTree"
          val loc = new java.io.File(
            new java.net.URI(cat.getTableMetadata(ident).location.toString))
          meta.partitionExpr match {
            case Some(_) =>
              spark.table(s"$db.$t").groupBy("_part").count().collect()
                .toSeq.map { r =>
                  val p = r.get(0).toString
                  (db, t, p, s"_part=$p", 1, r.getLong(1),
                    dirSize(new java.io.File(loc, s"_part=$p")), engine)
                }
            case None =>
              Seq((db, t, "tuple()", "all", 1,
                spark.table(s"$db.$t").count(), dirSize(loc), engine))
          }
        }
      } catch { case _: Throwable => Nil }
    }
    rows.toDF("database", "table", "partition", "name", "active",
      "rows", "bytes_on_disk", "engine")
  }

  /** `system.detached_parts`: one row per `detached/_part=N` directory —
    * what DETACH PARTITION parked and ATTACH would bring back (the
    * operator's visibility into parked retention data). Listing-only;
    * no data read. */
  private[graft] def detachedPartsSnapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cat = spark.sessionState.catalog
    def dirSize(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(dirSize).sum).getOrElse(0L)
    val rows = tables.keys.toSeq.sorted.flatMap { key =>
      val Array(db, t) = key.split("\\.", 2)
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))
      try {
        if (!cat.tableExists(ident)) Nil
        else {
          val det = new java.io.File(new java.io.File(
            new java.net.URI(cat.getTableMetadata(ident).location.toString)),
            "detached")
          Option(det.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
            .filter(d => d.isDirectory && d.getName.startsWith("_part="))
            .sortBy(_.getName)
            .map { d =>
              (db, t, d.getName.stripPrefix("_part="), d.getName,
                dirSize(d), "detached-by-user")
            }
        }
      } catch { case _: Throwable => Nil }
    }
    rows.toDF("database", "table", "partition_id", "name",
      "bytes_on_disk", "reason")
  }

  /** ClickHouse refuses ALTERs that break the table's key expressions
    * ("Trying to ALTER key column"); match that before a reshape
    * would leave a partition/sample/order expression dangling. */
  private def guardKeyColumn(spark: SparkSession, name: String,
                             col: String, verb: String): Unit = {
    val meta = tables.get(normalize(spark, name))
    val keyExprs = meta.toSeq.flatMap(mm =>
      mm.partitionExpr.toSeq ++ mm.sampleBy.toSeq ++ mm.orderBy)
    val hit = keyExprs.exists(e =>
      ("(?i)(?<![\\w`])" + java.util.regex.Pattern.quote(col) + "(?![\\w`])").r
        .findFirstIn(e).isDefined)
    if (hit) throw new IllegalArgumentException(
      s"cannot $verb column $col: used in a PARTITION/ORDER/SAMPLE BY key")
  }

  /** Schema-changing ALTERs (DROP/RENAME/MODIFY COLUMN) rewrite the
    * table copy-on-write — same as ClickHouse, whose mutations rewrite
    * parts. The transformed frame stages to scratch parquet, the table
    * is recreated with the staged schema (keeping the `_part` layout
    * and the MergeTree metadata, with renamed ORDER BY keys followed),
    * and the rows reload through the catalog. */
  /** TRUNCATE (and DROP-then-recreate reshape) of an UNPARTITIONED
    * table removes the whole table root — taking FREEZE snapshots
    * under `_shadow/` with it, though a ClickHouse mutation never
    * touches backups. Stage `_shadow/` aside for the duration of
    * `body` and move it back; the snapshots' hardlinked files keep
    * their inodes alive across the delete, so the staged tree stays
    * bit-identical at zero copy cost. The stage directory lives next
    * to the table root (same filesystem — plain rename both ways). */
  private def preservingShadow[T](spark: SparkSession, bare: String)
                                 (body: => T): T = {
    val loc = try Some(tableLoc(spark, bare)) catch { case _: Throwable => None }
    val shadow = loc.map(_.resolve("_shadow"))
      .filter(java.nio.file.Files.isDirectory(_))
    val staged = shadow.map { sh =>
      val dst = loc.get.getParent.resolve(
        s"_graft_shadow_stage_${java.util.UUID.randomUUID().toString.take(8)}")
      java.nio.file.Files.move(sh, dst)
      dst
    }
    try body
    finally (staged, loc) match {
      case (Some(st), Some(l)) =>
        try {
          java.nio.file.Files.createDirectories(l)
          val back = l.resolve("_shadow")
          if (!java.nio.file.Files.exists(back))
            java.nio.file.Files.move(st, back)
          else {
            // body recreated a shadow dir (never expected): merge ours in
            import scala.jdk.CollectionConverters._
            val kids = java.nio.file.Files.list(st)
            try kids.iterator.asScala.toList.foreach(k =>
              java.nio.file.Files.move(k, back.resolve(k.getFileName)))
            finally kids.close()
            java.nio.file.Files.deleteIfExists(st)
          }
        } catch { case _: Throwable => () }
      case _ => ()
    }
  }

  private def reshape(spark: SparkSession, name: String,
                      f: DataFrame => DataFrame,
                      renameKey: Map[String, String] = Map.empty): DataFrame =
    // same table-level lock as appendAligned: a reshape DROPs and
    // rebuilds the table, which must not interleave with an append
    appendLocks.getOrElseUpdate(normalize(spark, name), new Object).synchronized {
    Projections.invalidate(spark, normalize(spark, name)) // non-INSERT data change
    val bare = name.replace("`", "")
    val key = normalize(spark, name)
    val meta = tables.get(key)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_reshape").toString
    f(spark.table(bare)).write.mode("overwrite").parquet(tmp)
    val staged = spark.read.parquet(tmp)
    preservingShadow(spark, bare) {
    spark.sql(s"DROP TABLE $bare")
    val partitioned = staged.columns.contains("_part")
    val colsDdl = staged.schema.fields.filterNot(_.name == "_part")
      .map(fd => s"`${fd.name}` ${fd.dataType.sql}").mkString(", ")
    spark.sql(
      if (partitioned)
        s"CREATE TABLE $bare ($colsDdl, `_part` INT) " +
          "USING PARQUET PARTITIONED BY (`_part`)"
      else s"CREATE TABLE $bare ($colsDdl) USING PARQUET")
    meta.foreach { mm =>
      val ident = "^[\\w`]+$".r
      val remaining = staged.columns.map(_.toLowerCase).toSet
      val newOrder = mm.orderBy.flatMap { k0 =>
        val k = renameKey.getOrElse(k0.replace("`", ""), k0)
        // plain identifier keys that no longer exist drop out of the
        // clustering key; expression keys were guarded above
        if (ident.findFirstIn(k).isDefined &&
            !remaining.contains(k.replace("`", "").toLowerCase)) None
        else Some(k)
      }
      tables.put(key, mm.copy(orderBy = newOrder))
    }
    // reload through the (possibly renamed) MergeTree layout — a
    // reshape must not cost the table its ORDER BY clustering
    val newCols = spark.table(bare).columns.filterNot(_ == "_part")
    layoutAligned(spark, name,
      staged.select(newCols.map(staged(_)).toIndexedSeq: _*))
      .write.mode("append").insertInto(bare)
    CatalogStore.save(spark, bare)
    } // preservingShadow
    // skip indexes: follow renamed columns, die with dropped ones, and
    // re-stat against the rewritten files (the DROP+CREATE destroyed
    // the persisted manifest; onRewrite re-persists it)
    SkipIndexes.onReshape(spark, key, renameKey,
      spark.table(bare).columns.map(_.toLowerCase).toSet)
    SkipIndexes.onRewrite(spark, key)
    spark.emptyDataFrame
    }

  private def mutate(spark: SparkSession, name: String,
                     f: DataFrame => DataFrame): DataFrame =
    // TRUNCATE + re-append must not interleave with a concurrent INSERT
    appendLocks.getOrElseUpdate(normalize(spark, name), new Object).synchronized {
    Projections.invalidate(spark, normalize(spark, name)) // non-INSERT data change
    val bare = name.replace("`", "")
    // stage to a scratch location first: caching is not enough (TRUNCATE
    // invalidates dependent caches and the plan would re-read the
    // now-empty table), and Spark refuses overwrite-while-reading
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_mutation").toString
    f(spark.table(bare)).write.mode("overwrite").parquet(tmp)
    val staged = spark.read.parquet(tmp)
    preservingShadow(spark, bare) {
    spark.sql(s"TRUNCATE TABLE $bare")
    // the rewrite re-lands through the table's MergeTree layout —
    // ClickHouse mutations write sorted parts too; dropping the
    // clustering here would silently degrade parquet min/max pruning
    // on every mutated table
    val targetCols = spark.table(bare).columns.filterNot(_ == "_part")
    layoutAligned(spark, name,
      staged.select(targetCols.map(staged(_)).toIndexedSeq: _*))
      .write.mode("append").insertInto(bare)
    // TRUNCATE clears the whole table directory, including the durable
    // meta file — re-persist it
    CatalogStore.save(spark, bare)
    } // preservingShadow
    // re-stat skip indexes against the rewritten files and re-persist
    // the manifest the TRUNCATE destroyed (ClickHouse mutations rebuild
    // index marks on the new parts the same way)
    SkipIndexes.onRewrite(spark, normalize(spark, name))
    spark.emptyDataFrame
    }

  /** Partition-scoped mutation: rewrite ONLY `_part = p`. At 100 TB an
    * `OPTIMIZE ... PARTITION` must not rewrite the other 99.9% of the
    * table — ClickHouse merges within the named partition only. The
    * rewrite lands through dynamic partition overwrite (one partition
    * directory replaced, the rest untouched); a transform that empties
    * the partition drops it. */
  private def mutatePartition(spark: SparkSession, name: String, p: Int,
                              f: DataFrame => DataFrame): DataFrame =
    appendLocks.getOrElseUpdate(normalize(spark, name), new Object).synchronized {
      Projections.invalidate(spark, normalize(spark, name))
      val bare = name.replace("`", "")
      requirePartitioned(spark, bare)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_mutation").toString
      f(spark.table(bare)
          .filter(org.apache.spark.sql.functions.col("_part") === p))
        .write.mode("overwrite").parquet(tmp)
      val staged = spark.read.parquet(tmp)
      if (staged.isEmpty) dropPartition(spark, name, p) // reentrant lock
      else {
        val targetCols = spark.table(bare).columns.filterNot(_ == "_part")
        val prev =
          spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try layoutAligned(spark, name,
            staged.select(targetCols.map(staged(_)).toIndexedSeq: _*))
          .write.mode("overwrite").insertInto(bare)
        finally prev match {
          case Some(v) =>
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None =>
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
        spark.catalog.refreshTable(bare)
      }
      SkipIndexes.onRewrite(spark, normalize(spark, name))
      spark.emptyDataFrame
    }

  /** CH partition ids arrive bare (201306), quoted ('201306'), or as
    * `PARTITION ID 'x'` — our materialized `_part` is INT, so anything
    * non-integral is a user error worth naming. */
  private def parsePartValue(raw0: String): Int = {
    val raw = raw0.trim.stripPrefix("'").stripSuffix("'")
      .replace("`", "").trim
    try raw.toInt
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"partition id must be an integral _part value, got '$raw0'")
    }
  }

  private def requirePartitioned(spark: SparkSession, bare: String): Unit =
    if (!spark.table(bare).columns.contains("_part"))
      throw new IllegalArgumentException(
        s"$bare has no PARTITION BY — partition operations need a partitioned MergeTree table")

  /** `ALTER TABLE t DROP PARTITION p` — whole-partition retention as a
    * metadata + directory delete (the ClickHouse contract: never a
    * rewrite; at 100 TB this is the only affordable delete). Absent
    * partitions are a no-op, like ClickHouse. */
  private def dropPartition(spark: SparkSession, name: String, v: Int): DataFrame =
    appendLocks.getOrElseUpdate(normalize(spark, name), new Object).synchronized {
      Projections.invalidate(spark, normalize(spark, name))
      val bare = name.replace("`", "")
      requirePartitioned(spark, bare)
      spark.sql(s"ALTER TABLE $bare DROP IF EXISTS PARTITION (`_part` = $v)")
      // belt and braces: if the catalog retained the directory, remove
      // it — a later INSERT writing the same partition must not
      // resurrect dropped rows next to the new ones
      graft.LocalFs.deleteTree(detachedLoc(spark, bare, v).getParent.getParent
        .resolve(s"_part=$v"))
      spark.catalog.refreshTable(bare)
      spark.emptyDataFrame
    }

  private def tableLoc(spark: SparkSession, bare: String): java.nio.file.Path = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(bare)
    java.nio.file.Paths.get(
      new java.net.URI(spark.sessionState.catalog
        .getTableMetadata(ident).location.toString))
  }

  private def detachedLoc(spark: SparkSession, bare: String,
                          v: Int): java.nio.file.Path =
    tableLoc(spark, bare).resolve("detached").resolve(s"_part=$v")

  /** `ALTER TABLE t FREEZE [PARTITION p] [WITH NAME 'n']` — a local
    * snapshot of the partition's (or whole table's) data files under
    * `<table>/_shadow/<name-or-increment>/`, hardlinked where the
    * filesystem allows (ClickHouse's own shadow/ mechanism: parquet
    * files are immutable once written — mutations rewrite NEW files and
    * unlink old ones, so a hardlink snapshot stays bit-identical at
    * zero copy cost, the only affordable backup shape at 100 TB).
    * Unnamed freezes take a monotonic increment, like ClickHouse's
    * shadow/increment.txt. Divergence, documented: ClickHouse keeps
    * shadow/ per-server (snapshots survive DROP TABLE); here the
    * snapshot lives with the table and a DROP removes it. */
  private def freezePartition(spark: SparkSession, name: String,
                              part: Option[Int],
                              withName: Option[String]): DataFrame =
    appendLocks.getOrElseUpdate(normalize(spark, name), new Object).synchronized {
      val bare = name.replace("`", "")
      val loc = tableLoc(spark, bare)
      val shadowRoot = loc.resolve("_shadow")
      java.nio.file.Files.createDirectories(shadowRoot)
      val backup = withName.getOrElse {
        val f = shadowRoot.resolve("increment.txt")
        val n = if (java.nio.file.Files.exists(f))
          new String(java.nio.file.Files.readAllBytes(f)).trim.toInt + 1
        else 1
        java.nio.file.Files.write(f, n.toString.getBytes)
        n.toString
      }
      val dst = shadowRoot.resolve(backup)
      if (java.nio.file.Files.exists(dst))
        throw new IllegalArgumentException(
          s"freeze backup '$backup' already exists for $bare")
      def linkTree(src: java.nio.file.Path, to: java.nio.file.Path): Unit = {
        java.nio.file.Files.createDirectories(to)
        visibleFiles(src).foreach { f =>
          val t = to.resolve(f.getFileName)
          if (java.nio.file.Files.isDirectory(f)) linkTree(f, t)
          else
            try java.nio.file.Files.createLink(t, f)
            catch { case _: Throwable => java.nio.file.Files.copy(f, t) }
        }
      }
      part match {
        case Some(v) =>
          requirePartitioned(spark, bare)
          val src = loc.resolve(s"_part=$v")
          if (!java.nio.file.Files.isDirectory(src))
            throw new IllegalArgumentException(
              s"no partition $v to freeze for $bare")
          linkTree(src, dst.resolve(s"_part=$v"))
        case None =>
          // partition dirs are underscore-named (`_part=N`) and thus
          // invisible to visibleFiles — list them explicitly
          val partDirs = {
            val l = java.nio.file.Files.list(loc)
            try {
              import scala.jdk.CollectionConverters._
              l.iterator.asScala.toList.filter(p =>
                java.nio.file.Files.isDirectory(p) &&
                  p.getFileName.toString.startsWith("_part="))
            } finally l.close()
          }
          partDirs.foreach(f => linkTree(f, dst.resolve(f.getFileName)))
          visibleFiles(loc).foreach { f =>
            if (java.nio.file.Files.isDirectory(f)) {
              // non-partition dirs (detached/) are not part of the
              // table's live data — never snapshotted
            } else {
              java.nio.file.Files.createDirectories(dst)
              val t = dst.resolve(f.getFileName)
              try java.nio.file.Files.createLink(t, f)
              catch { case _: Throwable => java.nio.file.Files.copy(f, t) }
            }
          }
          if (!java.nio.file.Files.exists(dst))
            java.nio.file.Files.createDirectories(dst) // empty table: empty snapshot
      }
      spark.emptyDataFrame
    }

  /** `ALTER TABLE t UNFREEZE [PARTITION p] WITH NAME 'n'` — remove a
    * snapshot (or one partition of it). */
  private def unfreezePartition(spark: SparkSession, name: String,
                                part: Option[Int],
                                backup: String): DataFrame = {
    val bare = name.replace("`", "")
    val base = tableLoc(spark, bare).resolve("_shadow").resolve(backup)
    val target = part match {
      case Some(v) => base.resolve(s"_part=$v")
      case None => base
    }
    graft.LocalFs.deleteTree(target)
    spark.emptyDataFrame
  }

  /** `system.frozen_parts`: one row per snapshot directory under any
    * DDL-created table's `_shadow/` — listing-only, no data read. */
  private[graft] def frozenPartsSnapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def dirSize(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(dirSize).sum).getOrElse(0L)
    val rows = tables.keys.toSeq.sorted.flatMap { key =>
      val Array(db, t) = key.split("\\.", 2)
      try {
        val shadow = tableLoc(spark, s"$db.$t").resolve("_shadow").toFile
        Option(shadow.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
          .filter(_.isDirectory).sortBy(_.getName)
          .flatMap { b =>
            val parts = Option(b.listFiles()).getOrElse(Array.empty).toSeq
              .filter(f => f.isDirectory && f.getName.startsWith("_part="))
            if (parts.isEmpty)
              Seq((db, t, b.getName, "all", dirSize(b)))
            else parts.map(p =>
              (db, t, b.getName, p.getName.stripPrefix("_part="), dirSize(p)))
          }
      } catch { case _: Throwable => Nil }
    }
    rows.toDF("database", "table", "backup_name", "partition_id",
      "bytes_on_disk")
  }

  /** Non-hidden entries of a directory (Spark's convention: names
    * starting with `.` or `_` are metadata — .crc checksums, _SUCCESS —
    * and invisible to scans). */
  private def visibleFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val listing = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      listing.iterator.asScala.toList.filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith(".") || n.startsWith("_")
      }
    } finally listing.close()
  }

  /** Move a partition directory into place, MERGING with any existing
    * content at the destination: ClickHouse ATTACH adds detached parts
    * alongside rows inserted since the DETACH (and a second DETACH
    * stacks onto an already-populated detached dir). A whole-directory
    * Files.move would throw FileAlreadyExistsException/
    * DirectoryNotEmptyException in those workflows and strand the data,
    * so when dst exists we move file-by-file, uniquifying the rare name
    * collision (parquet part files are UUID-named, so collisions only
    * arise from a file detached, re-attached, and re-detached). */
  private def moveMerging(src: java.nio.file.Path,
                          dst: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    if (!Files.isDirectory(dst)) {
      Files.createDirectories(dst.getParent)
      Files.move(src, dst)
    } else {
      // data files only: Hadoop's hidden artifacts (.crc checksums,
      // _SUCCESS) must not be carried — a "attach1-"-prefixed rename
      // would UN-hide a .crc and Spark would try to read it as parquet
      visibleFiles(src).foreach { f =>
        var target = dst.resolve(f.getFileName)
        var n = 0
        while (Files.exists(target)) {
          n += 1
          target = dst.resolve(s"attach$n-${f.getFileName}")
        }
        Files.move(f, target)
      }
      // drop the leftovers (hidden artifacts) with the directory
      val rest = Files.list(src)
      try {
        import scala.jdk.CollectionConverters._
        rest.iterator.asScala.toList.foreach(Files.delete(_))
      } finally rest.close()
      Files.delete(src)
    }
  }

  /** `ALTER TABLE dst REPLACE|ATTACH PARTITION p FROM src` and
    * `ALTER TABLE src MOVE PARTITION p TO TABLE dst` — cross-table
    * partition surgery at the file level (the ClickHouse backfill /
    * promotion workflow: stage into a scratch table, then REPLACE the
    * production partition atomically-ish). REPLACE swaps dst's
    * partition for a copy of src's; ATTACH ... FROM adds a copy
    * alongside dst's existing rows; MOVE transfers ownership (src
    * loses the partition). Copies are file copies, moves are renames —
    * never a row rewrite, the only affordable shape at 100 TB. */
  private def copyPartitionFrom(spark: SparkSession, dstName: String,
                                srcName: String, v: Int, replace: Boolean,
                                move: Boolean): DataFrame = {
    val dst = dstName.replace("`", "")
    val src = srcName.replace("`", "")
    // deterministic lock order prevents deadlock between concurrent
    // A->B and B->A partition ops
    val locks = Seq(dst, src).map(normalize(spark, _)).distinct.sorted
      .map(n => appendLocks.getOrElseUpdate(n, new Object))
    def locked[T](ls: Seq[Object])(body: => T): T = ls match {
      case Nil => body
      case h +: t => h.synchronized(locked(t)(body))
    }
    locked(locks) {
      Projections.invalidate(spark, normalize(spark, dst))
      Projections.invalidate(spark, normalize(spark, src))
      requirePartitioned(spark, dst)
      requirePartitioned(spark, src)
      require(spark.table(dst).columns.map(_.toLowerCase).toSeq ==
          spark.table(src).columns.map(_.toLowerCase).toSeq,
        s"tables have different structure: $dst vs $src")
      val srcIdent = spark.sessionState.sqlParser.parseTableIdentifier(src)
      val part = spark.sessionState.catalog
        .getPartition(srcIdent, Map("_part" -> v.toString)) // throws if absent
      val srcDir = java.nio.file.Paths.get(new java.net.URI(part.location.toString))
      if (replace) dropPartition(spark, dst, v) // reentrant on dst's lock
      val dstDir = detachedLoc(spark, dst, v).getParent.getParent
        .resolve(s"_part=$v")
      import java.nio.file.{Files, Path}
      if (move) {
        spark.sessionState.catalog.dropPartitions(srcIdent,
          Seq(Map("_part" -> v.toString)), ignoreIfNotExists = false,
          purge = false, retainData = true)
        moveMerging(srcDir, dstDir)
      } else {
        Files.createDirectories(dstDir)
        visibleFiles(srcDir).foreach { f =>
          var target = dstDir.resolve(f.getFileName)
          var n = 0
          while (Files.exists(target)) {
            n += 1
            target = dstDir.resolve(s"from$n-${f.getFileName}")
          }
          Files.copy(f, target)
        }
      }
      spark.sql(s"ALTER TABLE $dst ADD IF NOT EXISTS PARTITION (`_part` = $v)")
      spark.catalog.refreshTable(dst)
      spark.catalog.refreshTable(src)
      spark.emptyDataFrame
    }
  }

  /** `ALTER TABLE t DETACH PARTITION p` — drop the partition from the
    * catalog but keep its files under `<table>/detached/_part=p` (the
    * ClickHouse layout), ready to re-ATTACH. The detached dir is
    * invisible to scans: a partitioned catalog table reads only its
    * registered partition locations. */
  private def detachPartition(spark: SparkSession, name: String, v: Int): DataFrame =
    appendLocks.getOrElseUpdate(normalize(spark, name), new Object).synchronized {
      Projections.invalidate(spark, normalize(spark, name))
      val bare = name.replace("`", "")
      requirePartitioned(spark, bare)
      val catalog = spark.sessionState.catalog
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(bare)
      val spec = Map("_part" -> v.toString)
      val part = catalog.getPartition(ident, spec) // throws if absent
      val src = java.nio.file.Paths.get(new java.net.URI(part.location.toString))
      val dst = detachedLoc(spark, bare, v)
      catalog.dropPartitions(ident, Seq(spec), ignoreIfNotExists = false,
        purge = false, retainData = true)
      moveMerging(src, dst) // detached/_part=p may already hold files
      spark.catalog.refreshTable(bare)
      spark.emptyDataFrame
    }

  /** `ALTER TABLE t ATTACH PARTITION p` — move the detached directory
    * back into place and re-register the partition: data returns with
    * zero rewrite. */
  private def attachPartition(spark: SparkSession, name: String, v: Int): DataFrame =
    appendLocks.getOrElseUpdate(normalize(spark, name), new Object).synchronized {
      Projections.invalidate(spark, normalize(spark, name))
      val bare = name.replace("`", "")
      requirePartitioned(spark, bare)
      val src = detachedLoc(spark, bare, v)
      if (!java.nio.file.Files.isDirectory(src))
        throw new IllegalArgumentException(
          s"no detached partition $v for $bare (expected at $src)")
      val dst = src.getParent.getParent.resolve(s"_part=$v")
      // rows may have been inserted into partition v after the DETACH —
      // ATTACH must add the detached files alongside them, not collide
      moveMerging(src, dst)
      spark.sql(s"ALTER TABLE $bare ADD IF NOT EXISTS PARTITION (`_part` = $v)")
      spark.catalog.refreshTable(bare)
      spark.emptyDataFrame
    }

  /** Resolve the transpiled PARTITION BY expression against the
    * declared column schema and refuse non-integral results — the
    * materialized `_part` partition key is INT (see [[parsePartValue]],
    * which states the same contract at the consuming end). Runs over an
    * EMPTY frame with the CREATE's schema: pure analysis, no data. An
    * unparseable schema skips the check (CREATE itself will surface
    * the real error). */
  private def validatePartitionType(spark: SparkSession, name: String,
                                    partExpr: String,
                                    sparkCols: Seq[String]): Unit = {
    import org.apache.spark.sql.types._
    val schema =
      try StructType.fromDDL(sparkCols.mkString(", "))
      catch { case _: Throwable => return }
    ChFunctions.register(spark) // toYYYYMM etc. must resolve
    val dt =
      try spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        .select(org.apache.spark.sql.functions
          .expr(Transpiler.transpile(partExpr)))
        .schema.head.dataType
      catch {
        case e: Throwable => throw new IllegalArgumentException(
          s"PARTITION BY $partExpr does not resolve against the " +
            s"table's columns ($name): ${e.getMessage}")
      }
    dt match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case d: DecimalType if d.scale == 0 => ()
      case other => throw new IllegalArgumentException(
        s"PARTITION BY must be an integral expression (the materialized " +
          s"`_part` partition key is INT); '$partExpr' resolves to " +
          s"${other.sql}. Wrap dates as toYYYYMM(col)/toYYYYMMDD(col) " +
          "and strings as a hash or code, e.g. cityHash64(col) % 16")
    }
  }

  private def createTable(spark: SparkSession, ifNotExists: Boolean,
                          name: String, colDefs: String, engine0: String,
                          engineArgs0: String, rest: String,
                          persist: Boolean = true): DataFrame = {
    // Replicated*MergeTree: replication is a cluster concern — strip
    // the prefix and drop the two ZooKeeper args ('/path', 'replica'),
    // keeping any engine-specific tail (Replacing's version column)
    val replicated = engine0.toLowerCase.startsWith("replicated")
    val engine = if (replicated) engine0.substring("replicated".length)
      else engine0
    val engineArgs =
      if (replicated)
        SqlScan(engineArgs0).split(',').map(_.trim)
          .filterNot(a => a.startsWith("'") || a.isEmpty).mkString(", ")
      else engineArgs0
    // ENGINE=Distributed(cluster, db, table[, sharding_key]): single
    // node — the local table IS every shard (same collapse as the
    // cluster()/remote() table functions). Reads go through a session
    // view; INSERTs redirect to the underlying table (see insert()).
    if (engine.equalsIgnoreCase("distributed")) {
      val parts = SqlScan(engineArgs).split(',').map(
        _.trim.stripPrefix("'").stripSuffix("'").replace("`", ""))
      if (parts.length < 3) throw new IllegalArgumentException(
        s"ENGINE=Distributed needs (cluster, db, table), got: $engineArgs")
      val target = s"${parts(1)}.${parts(2)}"
      val bare = name.replace("`", "")
      val vname = bare.substring(bare.lastIndexOf('.') + 1)
      spark.table(target) // the underlying table must exist
      spark.sql(s"CREATE OR REPLACE TEMP VIEW $vname AS SELECT * FROM $target")
      distributedTargets.put(vname.toLowerCase, target)
      return spark.emptyDataFrame
    }
    engine.toLowerCase match {
      case "memory" | "mergetree" | "replacingmergetree"
           | "summingmergetree" | "collapsingmergetree"
           | "versionedcollapsingmergetree" | "aggregatingmergetree" => ()
      // Log-family engines: unmerged append-only storage — the managed
      // parquet mapping makes them behave exactly like Memory here
      case "log" | "tinylog" | "stripelog" => ()
      // special-purpose engines: validated + canonicalized below once
      // the column list is parsed (Join keys must name real columns)
      case "null" | "set" | "join" | "buffer" | "merge" => ()
      case other => throw new IllegalArgumentException(s"unsupported engine: $other")
    }
    // AggregatingMergeTree: rows carry AggregateFunction(...) partial
    // states; FINAL / OPTIMIZE FINAL merge them per sorting key
    val aggregating = engine.equalsIgnoreCase("aggregatingmergetree")
    // ReplacingMergeTree[(ver)] / SummingMergeTree[(cols)]: remember
    // the merge inputs so FINAL and OPTIMIZE ... FINAL apply them
    val replacingVer =
      if (engine.equalsIgnoreCase("replacingmergetree"))
        Some(engineArgs.replace("`", ""))
      else None
    val summingCols =
      if (engine.equalsIgnoreCase("summingmergetree"))
        Some(engineArgs.replace("`", "").split(",")
          .map(_.trim).filter(_.nonEmpty).toSeq)
      else None
    // CollapsingMergeTree(sign) / VersionedCollapsingMergeTree(sign, ver)
    val collapsing =
      if (engine.equalsIgnoreCase("collapsingmergetree") ||
          engine.equalsIgnoreCase("versionedcollapsingmergetree")) {
        val versioned = engine.equalsIgnoreCase("versionedcollapsingmergetree")
        val args = engineArgs.replace("`", "").split(",")
          .map(_.trim).filter(_.nonEmpty).toSeq
        val want = if (versioned) 2 else 1
        if (args.length != want) throw new IllegalArgumentException(
          s"ENGINE=$engine needs $want argument(s) " +
            s"(sign${if (versioned) ", version" else ""}), got: $engineArgs")
        Some((args.head, if (versioned) args(1) else ""))
      } else None
    val clauses = suffixClauses(rest)
    val partExpr = clauses.get("PARTITION BY")
    // keys may be expressions (hits DDL: ORDER BY (CounterID, EventDate,
    // intHash32(UserID)), test.yml:49) — strip only the OUTER parens and
    // split paren-aware so call arguments survive intact; the depth-0
    // clause scan means calls may nest arbitrarily.
    val orderCols = clauses.get("ORDER BY")
      .map { inner0 =>
        val inner = if (inner0.startsWith("(") && inner0.endsWith(")") &&
          SqlScan(inner0).closing(0) == inner0.length - 1)
          inner0.substring(1, inner0.length - 1) else inner0
        SqlScan(inner).split(',').map(_.trim).filter(_.nonEmpty)
      }
      .getOrElse(Nil)
    val sampleBy = clauses.get("SAMPLE BY")
    val ttl = clauses.get("TTL").flatMap(parseTtlSpec)
    // table-level `COMMENT 'text'` (the last CREATE clause in CH)
    val tableComment = clauses.get("COMMENT").map { c0 =>
      val c = c0.trim
      if (!(c.startsWith("'") && c.endsWith("'") && c.length >= 2))
        throw new IllegalArgumentException(
          s"table COMMENT takes a quoted string, got: $c")
      c.substring(1, c.length - 1).replace("''", "'")
    }
    // inline `INDEX name expr TYPE kind [GRANULARITY g]` entries in the
    // column list (ClickHouse DDL form) — collected here, registered
    // after the table exists
    val inlineIndexRe =
      ("(?is)^INDEX\\s+([\\w`]+)\\s+(.+?)\\s+TYPE\\s+" +
        "(\\w+(?:\\s*\\([^)]*\\))?)(?:\\s+GRANULARITY\\s+(\\d+))?$").r
    val (indexDefs, colOnlyDefs) = SqlScan(colDefs).split(',')
      .partition(d => "(?is)^\\s*INDEX\\s".r.findFirstIn(d).isDefined)
    val colDefaults = Seq.newBuilder[(String, String)]
    val colComments = Seq.newBuilder[(String, String)]
    val colMats = Seq.newBuilder[(String, String)]
    val colAggs = Seq.newBuilder[(String, String)]
    val colAliases = Seq.newBuilder[(String, String, String)]
    val colEphs = Seq.newBuilder[(String, String, String)]
    val sparkCols = colOnlyDefs.flatMap { d =>
      val t = d.trim
      val sp = t.indexOf(' ') // name, then type (type may contain spaces)
      val (cn, ct0) = (t.substring(0, sp).trim, t.substring(sp + 1).trim)
      // `c Type DEFAULT expr COMMENT '..' CODEC(..)` — the column
      // decorations: DEFAULT drives omitted-column INSERT fill,
      // MATERIALIZED makes the column computed-only, ALIAS computes at
      // read with no storage, EPHEMERAL exists only inside an INSERT,
      // COMMENT is stored for DESCRIBE/SHOW CREATE, CODEC is a
      // documented no-op
      val tail = splitColDefault(cn, ct0)
      val ct = tail.tpe
      tail.default.foreach(e => colDefaults += (cn.replace("`", "") -> e))
      tail.comment.foreach(c => colComments += (cn.replace("`", "") -> c))
      tail.materialized.foreach(e => colMats += (cn.replace("`", "") -> e))
      if (tail.alias.isDefined || tail.ephemeral.isDefined) {
        // no physical column: ALIAS/EPHEMERAL live in table metadata
        tail.alias.foreach(e =>
          colAliases += ((cn.replace("`", ""), ct, e)))
        tail.ephemeral.foreach(e =>
          colEphs += ((cn.replace("`", ""), ct, e)))
        Seq.empty
      } else if (ct.matches("(?is)^AggregateFunction\\s*\\(.*\\)$")) {
        // `c AggregateFunction(fn, T)`: the stored partial state —
        // physically the -State combinator's value representation
        // (count/sum: running value; avg: (sum,count) struct; uniq:
        // HLL sketch bytes). Recorded so FINAL/OPTIMIZE FINAL know the
        // merge and SHOW CREATE/DESCRIBE render the declared type.
        val spec = ct.substring(ct.indexOf('(') + 1, ct.lastIndexOf(')'))
          .trim.replace("`", "")
        colAggs += (cn.replace("`", "") -> spec)
        Seq(s"$cn ${aggStateType(cn, spec)}")
      } else if (ct.matches("(?is)^Nested\\s*\\(.*\\)$")) {
        // ClickHouse stores Nested as parallel per-field arrays with
        // dotted physical names; queries keep writing `col.field`
        // (rewritten to one backticked identifier by the transpiler)
        val inner = ct.substring(ct.indexOf('(') + 1, ct.lastIndexOf(')'))
        val fields = SqlScan(inner).split(',').map { f0 =>
          val f = f0.trim
          val fsp = f.indexOf(' ')
          (f.substring(0, fsp).trim, f.substring(fsp + 1).trim)
        }
        Transpiler.nestedColumns.put(cn.replace("`", "").toLowerCase,
          fields.map(_._1))
        fields.map { case (fn, ft) =>
          s"`${cn.replace("`", "")}.$fn` ARRAY<${Transpiler.mapTypeNames(ft)}>"
        }
      } else Seq(s"$cn ${Transpiler.mapTypeNames(ct)}")
    }
    // CREATE-time PARTITION BY type contract: the partition expression
    // materializes into the INT `_part` column (the parsePartValue
    // contract every partition operation assumes). A non-integral
    // expression — `PARTITION BY region` on a String column — would
    // cast to NULL for every row under non-ANSI semantics: one
    // degenerate partition, pruning dead, partition ops useless, no
    // error anywhere. Refuse it here, loudly, before the table exists.
    partExpr.foreach(pe =>
      validatePartitionType(spark, name, pe, sparkCols))
    // ALIAS/EPHEMERAL columns have no storage — they can't feed the
    // physical layout (ClickHouse refuses them in sorting/partition
    // keys too). Refuse at CREATE, before the table exists.
    locally {
      val virtual = colAliases.result().map(a => (a._1, "ALIAS")) ++
        colEphs.result().map(e => (e._1, "EPHEMERAL"))
      virtual.foreach { case (vn, kind) =>
        val hit = partExpr.exists(pe => identRe(vn).findFirstIn(pe).isDefined) ||
          orderCols.exists(k => identRe(vn).findFirstIn(k).isDefined)
        if (hit) throw new IllegalArgumentException(
          s"PARTITION BY / ORDER BY cannot use $kind column $vn " +
            "(no storage to lay out)")
      }
    }
    // special-purpose engines (Null/Set/Join/Buffer/Merge): validate
    // the engine arguments against the parsed column list and render
    // the canonical spec SHOW CREATE round-trips. These engines carry
    // no MergeTree layout — ClickHouse refuses ORDER BY/PARTITION BY
    // on them too.
    val colNamesForSpec = sparkCols.map(c =>
      c.trim.split("\\s+").head.replace("`", ""))
    val engineSpec = SpecialEngines.createSpec(
      spark, engine, engineArgs, name, colNamesForSpec)
    if (engineSpec.isDefined &&
        (partExpr.nonEmpty || orderCols.nonEmpty || sampleBy.nonEmpty ||
          ttl.nonEmpty))
      throw new IllegalArgumentException(
        s"ENGINE=${engineSpec.get} takes no PARTITION BY/ORDER BY/" +
          "SAMPLE BY/TTL clauses")
    cleanOrphanLocation(spark, name)
    val ine = if (ifNotExists) "IF NOT EXISTS " else ""
    val ddl = partExpr match {
      case Some(_) =>
        s"CREATE TABLE $ine$name (${sparkCols.mkString(", ")}, `_part` INT) " +
          "USING PARQUET PARTITIONED BY (`_part`)"
      case None =>
        s"CREATE TABLE $ine$name (${sparkCols.mkString(", ")}) USING PARQUET"
    }
    val norm = normalize(spark, name)
    val existed =
      try spark.catalog.tableExists(name.replace("`", ""))
      catch { case _: Throwable => false }
    val out = spark.sql(ddl) // throws on exists unless IF NOT EXISTS
    if (existed) return out // IF NOT EXISTS no-op: keep the live
                            // table's metadata and registries untouched
    // fresh creation: nothing from a previously same-named table may
    // leak in (a stale projection entry would answer this table's
    // GROUP BYs from the OTHER table's store)
    Projections.forgetInMemory(norm)
    SkipIndexes.forgetInMemory(norm)
    tables.put(norm,
      TableMeta(partExpr, orderCols, sampleBy, replacingVer, summingCols,
        ttl, collapsing, colDefaults.result(), colComments.result(),
        tableComment, colMats.result(), aggregating, colAggs.result(),
        colAliases.result(), colEphs.result(), engineSpec))
    indexDefs.map(_.trim).foreach {
      case inlineIndexRe(iname, iexpr, itype, igran) =>
        SkipIndexes.add(spark, norm,
          iname.replace("`", ""), iexpr.trim.replace("`", ""), itype,
          Option(igran).map(_.toInt).getOrElse(1), ifNotExists = true)
      case bad => throw new IllegalArgumentException(
        s"bad inline INDEX definition: $bad")
    }
    // TEMPORARY tables die with their session — never persisted
    if (persist) CatalogStore.save(spark, name)
    out
  }

  /** Append a frame holding the table's non-`_part` columns
    * (positionally) honoring the table's MergeTree layout: the
    * PARTITION BY expression materializes into `_part` and rows
    * range-cluster on (_part, ORDER BY keys) — each month yields its
    * proportional share of the shuffle partitions, many files per
    * partition dir, each internally sorted on the ORDER BY prefix
    * (parquet min/max pruning) — instead of one giant hash file per
    * month, which capped scan parallelism at the row-group count.
    * Every ingest path funnels here (INSERT...SELECT, VALUES, text
    * formats, RowBinary/Native/Parquet payloads) so all of them write
    * the same sorted, prunable files; a small block lands as one file
    * per partition (see [[layoutAligned]], which `payloadBytes`, the
    * byte length of an INSERT … FORMAT body, helps size). */
  private[graft] def appendAligned(spark: SparkSession, name: String, src0: DataFrame,
                                   payloadBytes: Option[Long] = None): Unit = {
    val bare = name.replace("`", "")
    val full = spark.table(bare).schema
    val baseCols = insertableFields(spark, name, full).map(_.name)
    // fillInsertable's output carries the EPHEMERAL columns after the
    // insertable set (so MATERIALIZED expressions can read them before
    // the write drops them); plain positional inserts carry just the
    // insertable set
    val ephNames = ephemeralDefs(spark, name).map(_._1)
    val insertCols =
      if (ephNames.nonEmpty &&
          src0.columns.length == baseCols.length + ephNames.length)
        baseCols ++ ephNames
      else baseCols
    if (src0.columns.length != insertCols.length)
      throw new IllegalArgumentException(
        s"INSERT into $bare expects ${baseCols.length} column(s) " +
          s"(${baseCols.mkString(", ")}), got ${src0.columns.length}")
    // the partition/sort exprs are written against the TARGET column
    // names; rename the source positionally first, then compute the
    // MATERIALIZED columns over the block (always computed at insert,
    // never provided — their expressions may reference the insertable
    // columns and each other, so they fill in dependency order)
    val src = materializeFill(spark, name, full,
      src0.toDF(insertCols.toIndexedSeq: _*))
    // special-purpose engines hook the funnel here: Null discards the
    // block AFTER the MV fan-out below sees it, Join(ANY) dedupes by
    // key, Merge refuses
    val normName = normalize(spark, name)
    val src1 = SpecialEngines.interceptAppend(spark, normName, src) match {
      case Some(d) => d
      case None => // ENGINE=Null: nothing lands, MVs still fire
        fireMaterializedViews(spark, bare, src)
        return
    }
    val df = layoutAligned(spark, name, src1, payloadBytes)
    // Concurrent INSERTs into one table share the FileOutputCommitter
    // staging dir (_temporary/0) — unserialized, one job's commit
    // deletes the other's staging and the write throws. ClickHouse
    // commits parts under a table-level lock; mirror that: appends to
    // the SAME table serialize, different tables stay parallel. The MV
    // fan-out runs outside the lock (its own target takes its own
    // lock), so MV chains cannot deadlock.
    val lock = appendLocks.getOrElseUpdate(normName, new Object)
    lock.synchronized {
      df.write.mode("append").insertInto(bare)
    }
    fireMaterializedViews(spark, bare, src)
    // per-part projections: each batch appends its own partial aggregate
    Projections.onInsert(spark, normName, src)
    // data-skipping indexes: stat the new files only (never a rescan)
    SkipIndexes.onInsert(spark, normName)
    // Buffer engine: flush to the destination when thresholds pass
    SpecialEngines.afterAppend(spark, normName)
  }

  private val appendLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Compute the table's MATERIALIZED columns over an inserted block
    * (which holds the insertable columns, plus any EPHEMERAL columns
    * the source provided) and emit the full non-`_part` column set in
    * table order — the final select drops the ephemerals. Missing
    * EPHEMERAL columns fill from their declared defaults first, so a
    * MATERIALIZED expression may read them on every insert path.
    * Expressions fill in dependency order — a materialized column may
    * reference other materialized columns; cycles refuse loudly. No-op
    * for tables without materialized or ephemeral columns. */
  private def materializeFill(spark: SparkSession, name: String,
      full: org.apache.spark.sql.types.StructType,
      block: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val mats = tables.get(normalize(spark, name))
      .map(_.columnMaterialized).getOrElse(Nil)
    val hasEph = ephemeralDefs(spark, name).nonEmpty
    if (mats.isEmpty && !hasEph) return block
    def exprOf(n: String) = mats.find(_._1.equalsIgnoreCase(n)).map(_._2)
    var df = fillEphemerals(spark, name, block)
    var pending = full.fields
      .filter(f => exprOf(f.name).isDefined).toList
    while (pending.nonEmpty) {
      val (ready, blocked) = pending.partition { f =>
        val e = Transpiler.transpile(exprOf(f.name).get)
        pending.forall(p => identRe(p.name).findFirstIn(e).isEmpty)
      }
      if (ready.isEmpty) throw new IllegalArgumentException(
        s"cyclic MATERIALIZED expressions among columns " +
          s"${pending.map(_.name).mkString(", ")} of $name")
      ready.foreach { f =>
        df = df.withColumn(f.name,
          expr(Transpiler.transpile(exprOf(f.name).get)).cast(f.dataType))
      }
      pending = blocked
    }
    df.select(full.fields.filterNot(_.name == "_part")
      .map(f => col(f.name)).toIndexedSeq: _*)
  }

  /** Apply the table's MergeTree physical layout to a frame holding
    * its non-`_part` columns: materialize the PARTITION BY expression
    * into `_part` and range-cluster on (_part, ORDER BY keys) — each
    * month gets its proportional share of the shuffle partitions, and
    * every file is internally sorted on the ORDER BY prefix so parquet
    * min/max pruning keeps working. Plain keys sort by column;
    * expression keys (hits DDL: intHash32(UserID)) by the transpiled
    * expression. EVERY write path — INSERTs, mutations' rewrites,
    * reshapes, OPTIMIZE compaction — funnels through this, so no data
    * change can silently degrade the clustering.
    *
    * A block no larger than one file split (`spark.sql.files
    * .openCostInBytes`, the bound [[graft.plans.OneTask]] runs a read
    * as one task under) lands as ClickHouse lands a block: one sorted
    * file per partition value, written by one task. Range clustering
    * would spend a sampling job and a shuffle on it. The block is sized
    * as OneTask sizes a read (a file scan chain or a driver-side
    * relation); a payload the reader parses as it goes (an INSERT …
    * FORMAT text body) is sized by its `payloadBytes`. An unsized block
    * (`numbers()`, a join, a generator) keeps range clustering. */
  private def layoutAligned(spark: SparkSession, name: String, src: DataFrame,
                            payloadBytes: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val meta = tables.get(normalize(spark, name))
    val sortCols = meta.map(_.orderBy).getOrElse(Nil).map { k =>
      if (src.columns.contains(k)) col(k)
      else expr(Transpiler.transpile(k))
    }
    val (df, keys) = meta.flatMap(_.partitionExpr) match {
      case Some(pe) =>
        (src.withColumn("_part", expr(Transpiler.transpile(pe)).cast("int")),
          col("_part") +: sortCols)
      case None => (src, sortCols)
    }
    val small = graft.plans.OneTask.scanBytes(src.queryExecution.analyzed)
      .orElse(payloadBytes).exists(_ <= spark.sessionState.conf.filesOpenCostInBytes)
    if (small) {
      val one = df.coalesce(1)
      if (keys.isEmpty) one else one.sortWithinPartitions(keys: _*)
    } else if (sortCols.isEmpty) df
    else df.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
  }

  /** `CREATE MATERIALIZED VIEW mv [TO tgt] [ENGINE=...] [POPULATE] AS
    * SELECT ... FROM src` — ClickHouse's insert trigger: every block
    * inserted into `src` runs through the SELECT and appends to the
    * target (the view's own storage table, or `TO tgt`). Without
    * POPULATE the target starts empty (pre-existing src rows never
    * flow), with it the current content seeds the target — both
    * ClickHouse semantics. */
  private def createMaterializedView(spark: SparkSession, orReplace: Boolean,
                                     ifNot: Boolean,
                                     name: String, toTgt: Option[String],
                                     populate: Boolean,
                                     body: String): DataFrame = {
    val bare = name.replace("`", "")
    val src = "(?is)\\bFROM\\s+([\\w`.]+)".r.findFirstMatchIn(body)
      .map(_.group(1).replace("`", ""))
      .getOrElse(throw new IllegalArgumentException(
        "MATERIALIZED VIEW requires a plain FROM <table> source"))
    val target = toTgt.map(_.replace("`", "")).getOrElse(bare)
    if (toTgt.isEmpty) {
      val exists =
        try spark.catalog.tableExists(target)
        catch { case _: Throwable => false }
      if (exists) {
        if (ifNot) {
          matViews.put(normalize(spark, name),
            MvMeta(target, normalize(spark, src), body))
          return spark.emptyDataFrame
        }
        // ClickHouse raises TABLE_ALREADY_EXISTS unless OR REPLACE;
        // dropping unconditionally would destroy a colliding user table
        if (!orReplace)
          throw new IllegalArgumentException(
            s"Table $target already exists (use CREATE OR REPLACE)")
        spark.sql(s"DROP TABLE $target")
      }
      cleanOrphanLocation(spark, target)
      val df = spark.sql(Transpiler.transpile(body))
      (if (populate) df else df.limit(0)).write.saveAsTable(target)
      // the view's own storage table is a graft table: persist it so
      // the restored MV trigger has somewhere to land after a restart
      CatalogStore.save(spark, target)
    } else if (populate)
      appendAligned(spark, target, spark.sql(Transpiler.transpile(body)))
    matViews.put(normalize(spark, name),
      MvMeta(target, normalize(spark, src), body))
    CatalogStore.saveMatViews(spark)
    spark.emptyDataFrame
  }

  // "[(cols)] VALUES <tuples>" INSERT body (column list optional)
  private val valuesBodyRe =
    "(?is)^(?:\\(([^)]*)\\)\\s*)?VALUES\\s+(.+)$".r
  private val colListSelectRe =
    "(?is)^\\(([^)]*)\\)\\s*(SELECT|WITH)\\b(.*)$".r

  /** INSERT INTO t SELECT/VALUES — all MergeTree layouts land through
    * [[appendAligned]]; VALUES rows parse via Spark's inline VALUES
    * relation so partitioned tables accept them too. */
  /** Distributed-table faces (view name → underlying table): INSERTs
    * into the face write the local underlying table, like a one-shard
    * cluster. */
  private val distributedTargets = TrieMap.empty[String, String]

  private val insertRe = "(?is)^\\s*INSERT\\s+INTO\\s+([\\w`.]+)\\s+(.*)$".r

  def insert(spark: SparkSession, sql: String): DataFrame = {
    val m = insertRe.findFirstMatchIn(sql.trim.stripSuffix(";"))
      .getOrElse(throw new IllegalArgumentException(s"bad INSERT: $sql"))
    val (name0, body) = (m.group(1), m.group(2).trim)
    val name = distributedTargets.getOrElse(
      name0.replace("`", "").toLowerCase, name0)
    val meta = tables.get(normalize(spark, name))
    val hasLayout = // materialized/ephemeral columns also need the
                    // aligned path (compute-then-drop before the write);
                    // special engines (Null/Set/Join/Buffer/Merge) hook
                    // appendAligned for discard/dedupe/flush/refusal
      meta.exists(t => t.partitionExpr.nonEmpty || t.orderBy.nonEmpty ||
        t.columnMaterialized.nonEmpty || t.columnEphemeral.nonEmpty ||
        t.engineSpec.nonEmpty)
    // `INSERT INTO t (a, b) SELECT ...` — the listed columns take the
    // SELECT's output positionally; every other column gets its
    // declared DEFAULT (else NULL), same contract as the VALUES form
    val colListSel = colListSelectRe.findFirstMatchIn(body)
    if (colListSel.isDefined) {
      val mm = colListSel.get
      val listed = mm.group(1).split(",").map(_.trim.replace("`", ""))
        .filter(_.nonEmpty).toIndexedSeq
      val sel = spark.sql(Transpiler.transpile(mm.group(2) + mm.group(3)))
      if (sel.columns.length != listed.length)
        throw new IllegalArgumentException(
          s"INSERT column list has ${listed.length} column(s) but the " +
            s"SELECT produces ${sel.columns.length}")
      val named = sel.toDF(listed: _*)
      val full = spark.table(name.replace("`", "")).schema
      requireTableCols(spark, name, listed, full)
      appendAligned(spark, name, fillInsertable(spark, name, named))
      spark.emptyDataFrame
    } else if (hasLayout && body.toUpperCase.startsWith("SELECT")) {
      appendAligned(spark, name, spark.sql(Transpiler.transpile(body)))
      spark.emptyDataFrame
    } else if (valuesBodyRe.findFirstMatchIn(body).isDefined) {
      // ALL VALUES inserts route through the cast-aligned path (not
      // raw INSERT SQL): ClickHouse accepts '2024-01-01' for a Date
      // column, which ANSI-strict INSERT would reject, and layout
      // tables additionally need the _part/ORDER BY materialization
      val vm = valuesBodyRe.findFirstMatchIn(body).get
      val parsed = spark.sql(
        Transpiler.transpile("SELECT * FROM VALUES " + vm.group(2)))
      val full = spark.table(name.replace("`", "")).schema
      val listed = Option(vm.group(1)).map(_.split(",")
        .map(_.trim.replace("`", "")).toSeq)
      listed.foreach(requireTableCols(spark, name, _, full))
      val named = listed match {
        case Some(cs) => parsed.toDF(cs: _*)
        case None => parsed.toDF(
          insertableFields(spark, name, full).map(_.name).toIndexedSeq: _*)
      }
      // fill unlisted columns with their declared DEFAULT (else NULL),
      // emit in table column order
      appendAligned(spark, name, fillInsertable(spark, name, named))
      spark.emptyDataFrame
    } else if (hasLayout) {
      throw new IllegalArgumentException(
        "MergeTree tables support INSERT ... SELECT or VALUES")
    } else {
      val res = spark.sql(Transpiler.transpile(s"INSERT INTO $name $body"))
      // plain (no-layout) tables bypass appendAligned — fire any MVs
      // watching them by re-deriving the inserted block
      if (matViews.values.exists(_.src == normalize(spark, name)))
        insertBlock(spark, name, body)
          .foreach(b => fireMaterializedViews(spark, name, b))
      res
    }
  }

  /** The rows an `INSERT INTO t <body>` contributes, as a frame in
    * table column order (None for body shapes we can't re-derive). */
  private def insertBlock(spark: SparkSession, name: String,
                          body: String): Option[DataFrame] = {
    val bare = name.replace("`", "")
    val cols = insertableFields(spark, name, spark.table(bare).schema)
      .map(_.name).toIndexedSeq
    def fillFrom(named: DataFrame): DataFrame =
      // the MV block is the STORED rows — drop the trailing EPHEMERAL
      // columns fillInsertable threads through for the write path
      fillInsertable(spark, name, named)
        .select(cols.map(org.apache.spark.sql.functions.col): _*)
    val colListSel = colListSelectRe.findFirstMatchIn(body)
    if (colListSel.isDefined) {
      val mm = colListSel.get
      val listed = mm.group(1).split(",").map(_.trim.replace("`", ""))
        .filter(_.nonEmpty).toIndexedSeq
      requireTableCols(spark, name, listed, spark.table(bare).schema)
      Some(fillFrom(spark.sql(
        Transpiler.transpile(mm.group(2) + mm.group(3))).toDF(listed: _*)))
    } else if (body.toUpperCase.startsWith("SELECT"))
      Some(spark.sql(Transpiler.transpile(body)).toDF(cols: _*))
    else valuesBodyRe.findFirstMatchIn(body).map { vm =>
      val parsed = spark.sql(
        Transpiler.transpile("SELECT * FROM VALUES " + vm.group(2)))
      val listed = Option(vm.group(1)).map(_.split(",")
        .map(_.trim.replace("`", "")).toSeq)
      listed.foreach(requireTableCols(spark, name, _, spark.table(bare).schema))
      val named = listed match {
        case Some(cs) => parsed.toDF(cs: _*)
        case None => parsed.toDF(cols: _*)
      }
      fillFrom(named)
    }
  }

  /** The in-memory catalog forgets tables across JVMs while the
    * warehouse directory persists — a dropped-in-a-past-process table
    * leaves an orphan location that blocks CREATE. If the catalog does
    * NOT know the table but its managed location exists, remove it.
    * (A real metastore deployment never hits this path.) */
  def cleanOrphanLocation(spark: SparkSession, name: String): Unit = {
    val bare = name.replace("`", "")
    val (db, tbl) = bare.split("\\.") match {
      case Array(d, t) => (d, t)
      case Array(t) => (spark.catalog.currentDatabase, t)
    }
    val known =
      try spark.catalog.tableExists(bare)
      catch { case _: Throwable => false }
    if (!known) {
      // a DETACHED table's data is parked, not orphaned: CREATE over
      // its name must refuse (ClickHouse: "table is detached"), never
      // silently wipe what ATTACH is supposed to bring back
      val norm = s"${db.toLowerCase}.${tbl.toLowerCase}"
      lazy val marker =
        try {
          val dbLoc = spark.sessionState.catalog.getDatabaseMetadata(db).locationUri
          java.nio.file.Files.exists(java.nio.file.Paths.get(
            new java.net.URI(s"$dbLoc/$tbl/${CatalogStore.DetachedMarker}")))
        } catch { case _: Throwable => false }
      if (detachedNames.contains(norm) || marker)
        throw new IllegalArgumentException(
          s"table $norm is DETACHED; ATTACH TABLE it (or attach and drop)" +
            " before reusing the name")
      try {
        val dbLoc = spark.sessionState.catalog.getDatabaseMetadata(db).locationUri
        graft.LocalFs.deleteTree(java.nio.file.Paths.get(new java.net.URI(s"$dbLoc/$tbl")))
      } catch { case _: Throwable => () } // db missing / non-file scheme
    }
  }

  private def normalize(spark: SparkSession, name: String): String = {
    val bare = name.replace("`", "").toLowerCase
    if (bare.contains(".")) bare
    else s"${spark.catalog.currentDatabase}.$bare"
  }
}

/** Statement router: the single entry point servers/clients call with
  * raw ClickHouse SQL (possibly `USE db; query` — the reference
  * prefixes the database selection the same way, main.py:860-861). */
object Engine {
  /** `INSERT INTO t [(cols)] [VALUES | FORMAT x]` through the end of
    * its line: the header of every bulk write. With a FORMAT, its rows
    * follow inline, fill the rest of an HTTP body, or are the whole
    * body when the header came in the `query` param; they never pass
    * through statement splitting. */
  private val insertHeaderRe =
    ("(?is)^\\s*INSERT\\s+INTO\\s+([\\w`.]+)\\s*(?:\\(([^)]*)\\))?\\s*" +
      "(?:VALUES|FORMAT\\s+(\\w+))?[ \\t]*(?:\\r?\\n|$)").r

  /** A parsed INSERT header; `statement` is its text. */
  private[graft] final case class InsertHeader(statement: String, table: String,
                                               cols: Option[Seq[String]],
                                               format: Option[String])

  /** The INSERT header `text` opens with, and the offset after it. */
  private[graft] def insertHeader(text: String): Option[(InsertHeader, Int)] =
    insertHeaderRe.findPrefixMatchOf(text).map { m =>
      (InsertHeader(m.matched.trim, m.group(1),
        Option(m.group(2)).map(_.split(",").map(_.trim.replace("`", "")).toSeq),
        Option(m.group(3))), m.end)
    }

  /** Bounded query log behind `system.query_log` (most-probed columns
    * of ClickHouse's table). Durations cover the synchronous part of
    * execution — DDL/DML fully; a SELECT's lazy tail materializes at
    * the caller's sink and is not included. */
  private case class LogEntry(eventTimeMs: Long, query: String,
                              durationMs: Long, qtype: String, user: String)
  private val queryLog =
    new java.util.concurrent.ConcurrentLinkedDeque[LogEntry]()
  private val maxLog = 1000

  private def record(e: LogEntry): Unit = {
    queryLog.addLast(e)
    while (queryLog.size() > maxLog) queryLog.pollFirst()
  }

  private[graft] def queryLogSnapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    queryLog.iterator().asScala.toSeq
      .map(e => (new java.sql.Timestamp(e.eventTimeMs), e.query,
        e.durationMs, e.qtype, e.user))
      .toDF("event_time", "query", "query_duration_ms", "type", "user")
  }

  /** Live registry behind `system.processes` and `KILL QUERY`. Every
    * execute() tags its thread with a per-query job group
    * (interruptOnCancel), so a KILL from another connection cancels the
    * query's running/future Spark jobs — including the lazy tail of a
    * SELECT that is still streaming to its client. Entries retire when
    * the statement's synchronous part ends (DDL/DML) or when the server
    * finishes streaming ([[finishQuery]]); a size cap bounds strays. */
  private case class Running(groupId: String, startMs: Long, query: String,
                             user: String, sc: org.apache.spark.SparkContext)
  private val running =
    scala.collection.concurrent.TrieMap.empty[String, Running]
  private val maxRunning = 200
  private val lastIdOnThread = new ThreadLocal[String]

  private def beginQuery(spark: SparkSession, queryId: Option[String],
                         query: String, user: String): String = {
    val id = queryId.filter(_.nonEmpty)
      .getOrElse(java.util.UUID.randomUUID().toString)
    val gid = s"graft-qid-$id"
    spark.sparkContext.setJobGroup(gid, query.take(200),
      interruptOnCancel = true)
    // one thread runs one query at a time: starting a new one retires
    // the thread's previous entry (library callers never call
    // finishQuery; without this a query loop would pool up to the cap)
    Option(lastIdOnThread.get()).foreach(finishQuery)
    lastIdOnThread.set(id)
    if (running.size >= maxRunning) // bound strays (oldest first)
      running.toSeq.sortBy(_._2.startMs).take(running.size - maxRunning + 1)
        .foreach { case (k, _) => running.remove(k) }
    running.put(id, Running(gid, System.currentTimeMillis(), query, user,
      spark.sparkContext))
    id
  }

  /** Retire a query from `system.processes` once its result has fully
    * streamed. Servers call this from their response `finally`. */
  def finishQuery(id: String): Unit = running.remove(id)

  // cumulative profile counters behind system.events (ClickHouse's
  // own counter names); started-at stamp feeds the Uptime metric
  private val startedAtMs = System.currentTimeMillis()
  private val cQuery = new java.util.concurrent.atomic.AtomicLong
  private val cSelect = new java.util.concurrent.atomic.AtomicLong
  private val cInsert = new java.util.concurrent.atomic.AtomicLong
  private val cFailed = new java.util.concurrent.atomic.AtomicLong

  /** system.settings, live: defaults merged with the session's SET
    * overrides (`changed` = 1 exactly for overrides, like ClickHouse). */
  private[graft] def settingsSnapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val base = Map("max_threads" -> "32", "session_timezone" -> "UTC",
      "readonly" -> "0")
    val over = sessionSettings.synchronized {
      sessionSettings.getOrElse(spark, Map.empty)
    }
    (base ++ over).toSeq.sortBy(_._1)
      .map { case (k, v) => (k, v, if (over.contains(k)) 1 else 0, "") }
      .toDF("name", "value", "changed", "description")
  }

  /** system.metrics: point-in-time gauges (live, not a snapshot). */
  private[graft] def metricsSnapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rt = Runtime.getRuntime
    Seq(
      ("Query", running.size.toLong, "Number of executing queries"),
      ("MemoryTracking", rt.totalMemory() - rt.freeMemory(),
        "Total amount of memory allocated by the server"),
      ("Uptime", (System.currentTimeMillis() - startedAtMs) / 1000,
        "Server uptime in seconds"))
      .toDF("metric", "value", "description")
  }

  /** system.events: cumulative counters since process start. */
  private[graft] def eventsSnapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("Query", cQuery.get, "Number of queries started"),
      ("SelectQuery", cSelect.get, "Number of SELECT queries started"),
      ("InsertQuery", cInsert.get, "Number of INSERT queries started"),
      ("FailedQuery", cFailed.get, "Number of failed queries"),
      ("CompileFunction",
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        "Number of generated classes compiled"))
      .toDF("event", "value", "description")
  }

  private[graft] def processesSnapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val now = System.currentTimeMillis()
    running.toSeq.sortBy(_._2.startMs)
      .map { case (id, r) =>
        (id, r.user, (now - r.startMs) / 1000.0, r.query) }
      .toDF("query_id", "user", "elapsed", "query")
  }

  private val killQueryRe =
    "(?is)^\\s*KILL\\s+QUERY\\s+WHERE\\s+(.+?)\\s*(?:SYNC|ASYNC|TEST)?\\s*$".r

  /** `KILL QUERY WHERE <cond> [SYNC|ASYNC|TEST]` — the predicate runs
    * over the system.processes frame (so any of its columns work),
    * matched queries get their job group cancelled, and the ClickHouse
    * result shape (kill_status, query_id, user, query) returns. */
  private def killQuery(spark: SparkSession, cond: String): DataFrame = {
    import spark.implicits._
    val matched = processesSnapshot(spark)
      .filter(org.apache.spark.sql.functions.expr(Transpiler.transpile(cond)))
      .select("query_id").collect().map(_.getString(0)).toSeq
    val rows = matched.flatMap { id =>
      running.remove(id).map { r =>
        try r.sc.cancelJobGroup(r.groupId) catch { case _: Throwable => () }
        ("finished", id, r.user, r.query)
      }
    }
    rows.toDF("kill_status", "query_id", "user", "query")
  }

  def execute(spark: SparkSession, rawSql: String): DataFrame =
    execute(spark, rawSql, "default")

  def execute(spark: SparkSession, rawSql: String, user: String): DataFrame =
    execute(spark, rawSql, user, None)

  /** @param queryId client-supplied id (HTTP `query_id=` param /
    *                native client info) keying `system.processes` and
    *                `KILL QUERY`; generated when absent. */
  def execute(spark: SparkSession, rawSql: String, user: String,
              queryId: Option[String]): DataFrame = {
    killQueryRe.findFirstMatchIn(rawSql) match {
      case Some(m) => return killQuery(spark, m.group(1))
      case None => ()
    }
    insertHeader(rawSql) match {
      case Some((h, end)) if h.format.isDefined => insert(spark, h,
        rawSql.substring(end).getBytes(java.nio.charset.StandardCharsets.UTF_8), user, queryId)
      case _ => tracked(spark, rawSql, user, queryId)(executeInner(spark, rawSql))
    }
  }

  private val selectKindRe = "(?is)^\\s*(SELECT|WITH|EXPLAIN)\\b".r
  private val insertKindRe = "(?is)^\\s*INSERT\\b".r

  /** Runs one statement under the query bookkeeping: query id and
    * `graft-qid-*` job group, `system.processes`, `system.query_log`
    * and the `system.events` counters. */
  private[graft] def tracked(spark: SparkSession, sql: String, user: String,
                             queryId: Option[String])(run: => DataFrame): DataFrame = {
    val t0 = System.currentTimeMillis()
    val id = beginQuery(spark, queryId, sql, user)
    val isSelect = selectKindRe.findFirstIn(sql).isDefined
    cQuery.incrementAndGet()
    if (isSelect) cSelect.incrementAndGet()
    if (insertKindRe.findFirstIn(sql).isDefined) cInsert.incrementAndGet()
    try {
      ChFunctions.register(spark)
      // lazy durable-catalog restore: first statement of a fresh JVM
      // re-registers persisted tables/dictionaries/projections
      CatalogStore.ensureRestored(spark)
      val out = run
      // the log itself is queryable but never logs its own reads
      if (!sql.toLowerCase.contains("system.query_log"))
        record(LogEntry(t0, sql, System.currentTimeMillis() - t0,
          "QueryFinish", user))
      out
    } catch {
      case e: Throwable =>
        record(LogEntry(t0, sql, System.currentTimeMillis() - t0,
          "ExceptionWhileProcessing", user))
        cFailed.incrementAndGet()
        finishQuery(id)
        throw e
    } finally {
      // DDL/DML ran synchronously — retire now. A SELECT's jobs run at
      // the caller's sink; it stays listed until finishQuery (servers)
      // or the size cap (library callers, where cancellation targets
      // the caller's own thread anyway).
      if (!isSelect) finishQuery(id)
    }
  }

  private def executeInner(spark: SparkSession, rawSql: String): DataFrame = {
    val statements = SqlScan(rawSql).split(';').map(_.trim).filter(_.nonEmpty)
    statements.map { st0 =>
      val st = graft.sources.UrlTableFunction.rewrite(spark, st0)
      if (Ddl.isDdl(st)) Ddl.execute(spark, st)
      else {
        val (noFmt, fmt) = Transpiler.extractFormat(st)
        outfileRe.findFirstMatchIn(noFmt) match {
          case Some(m) =>
            // `SELECT ... INTO OUTFILE 'f' [APPEND|TRUNCATE] [FORMAT x]`
            // — the bytes HTTP would send (TSV default, main.py:853);
            // the rows still return. Like the reference, an existing
            // file is refused unless APPEND or TRUNCATE is given.
            val fmtName = fmt.getOrElse("TSV")
            val writer = graft.formats.Formats.write(fmtName)
            val df = query(spark, m.group(1))
            val p = java.nio.file.Paths.get(m.group(2))
            import java.nio.file.StandardOpenOption._
            val opts = Option(m.group(3)).map(_.toUpperCase) match {
              case Some("APPEND") =>
                if (!writer.appendable) throw new IllegalArgumentException(
                  s"INTO OUTFILE ... FORMAT $fmtName supports TRUNCATE, not APPEND")
                Seq(CREATE, APPEND)
              case Some("TRUNCATE") => Seq(CREATE, TRUNCATE_EXISTING)
              case _ =>
                if (java.nio.file.Files.exists(p))
                  throw new IllegalArgumentException(
                    s"File ${m.group(2)} exists; use INTO OUTFILE ... APPEND or TRUNCATE")
                Seq(CREATE_NEW)
            }
            var os: java.io.OutputStream = null
            try writer(df, () => {
              if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
              os = new java.io.BufferedOutputStream(
                java.nio.file.Files.newOutputStream(p, opts: _*), 1 << 16)
              os
            }) finally if (os != null) os.close()
            df
          case None => query(spark, noFmt)
        }
      }
    }.last
  }

  private val outfileRe =
    "(?is)^(.*?)\\s+INTO\\s+OUTFILE\\s+'([^']+)'(?:\\s+(APPEND|TRUNCATE))?\\s*$".r

  // `FROM t SAMPLE 0.1` on a table created with SAMPLE BY key
  private val sampleRe =
    "(?i)\\bFROM\\s+([\\w`.]+)\\s+SAMPLE\\s+(0?\\.\\d+)".r

  /** ClickHouse `SAMPLE k` on a keyed table: the deterministic subset
    * `pmod(key, 1000) < k*1000` (0.1% bucket granularity). Like the
    * reference, repeated queries see the SAME rows (the property
    * SAMPLE BY exists for — consistent subsets across queries, unlike
    * Bernoulli TABLESAMPLE); at scale the filter is a cheap codegen'd
    * predicate pushed to the scan, no shuffle. Keyless tables fall
    * through to the transpiler's TABLESAMPLE mapping. */
  private def rewriteSample(spark: org.apache.spark.sql.SparkSession,
                            sql: String): String =
    sampleRe.replaceAllIn(sql, m => {
      Ddl.sampleKey(spark, m.group(1)) match {
        case Some(key) =>
          val thr = math.round(m.group(2).toDouble * 1000)
          val alias = m.group(1).substring(m.group(1).lastIndexOf('.') + 1)
            .replace("`", "")
          java.util.regex.Matcher.quoteReplacement(
            s"FROM (SELECT * FROM ${m.group(1)} WHERE pmod($key, 1000) < $thr) $alias")
        case None => m.matched
      }
    })

  /** Substitute every `system.*` table except `one` with a frame built
    * at query time from driver-side state (catalog, query registry,
    * part listings), so each probe sees post-DDL state and the catalog
    * ones run no Spark job. Each referenced name materializes a fresh
    * temp view; `system.one` passes through to its static view. */
  private def rewriteSystemParts(spark: SparkSession, sql: String): String =
    systemParts.foldLeft(sql) { case (s, (name, re, build)) =>
      if (re.findFirstIn(s).isEmpty) s
      else {
        build(spark).createOrReplaceTempView(s"__graft_system_$name")
        re.replaceAllIn(s, s"__graft_system_$name")
      }
    }

  /** Each live system table: its name, `system.<name>` as a whole
    * name, and the frame that answers it. */
  private val systemParts: Seq[(String, scala.util.matching.Regex, SparkSession => DataFrame)] =
    Seq[(String, SparkSession => DataFrame)](
      "detached_parts" -> (s => Ddl.detachedPartsSnapshot(s)),
      "parts" -> (s => Ddl.partsSnapshot(s)),
      "databases" -> (s => ChContext.databasesLive(s)),
      "tables" -> (s => ChContext.tablesLive(s)),
      "columns" -> (s => ChContext.columnsLive(s)),
      "query_log" -> (s => Engine.queryLogSnapshot(s)),
      "processes" -> (s => Engine.processesSnapshot(s)),
      "dictionaries" -> (s => Dictionaries.snapshot(s)),
      "projections" -> (s => Projections.snapshot(s)),
      "data_skipping_indices" -> (s => SkipIndexes.snapshot(s)),
      "functions" -> (s => UserFunctions.snapshot(s)),
      "dropped_tables" -> (s => Ddl.droppedTablesSnapshot(s)),
      "frozen_parts" -> (s => Ddl.frozenPartsSnapshot(s)),
      "metrics" -> (s => Engine.metricsSnapshot(s)),
      "events" -> (s => Engine.eventsSnapshot(s)),
      "settings" -> (s => Engine.settingsSnapshot(s)))
      .map { case (n, build) => (n, s"(?i)(?<![\\w`])system\\.$n(?![\\w`])".r, build) }

  /** ClickHouse hides MATERIALIZED columns from `SELECT *` while
    * keeping them selectable by name. The physical parquet column
    * exists, so a bare select-list `*` over a table with materialized
    * columns expands to the visible column list here (analysis-time
    * expansion, the expandStarModifiers style). Only a star directly
    * following `SELECT [DISTINCT]` expands — `count(*)` and `a * b`
    * are untouched; each star pairs with the next `FROM <name>` after
    * it, so subquery stars expand against their own tables. Tables
    * without materialized columns pass through unchanged. */
  private def rewriteMaterializedStar(spark: SparkSession,
                                      sql0: String): String = {
    if (!sql0.contains("*")) return sql0
    val starRe = "(?is)\\bSELECT\\s+(?:DISTINCT\\s+)?\\*".r
    val fromRe = "(?is)\\bFROM\\s+([\\w`.]+)".r
    var s = sql0; var searchFrom = 0; var guard = 0
    while (guard < 16) {
      guard += 1
      starRe.findFirstMatchIn(s.substring(searchFrom)) match {
        case None => return s
        case Some(m) =>
          val starAt = searchFrom + m.end - 1
          val cols = fromRe.findFirstMatchIn(s.substring(starAt))
            .map(_.group(1).replace("`", "")).flatMap { bare =>
              val mat = Ddl.materializedCols(spark, bare)
              // ALIAS tables expand too: the physical schema naturally
              // excludes aliases, and pre-expanding keeps `*` correct
              // when the FROM later swaps to the alias-enriched view
              if (mat.isEmpty && Ddl.aliasDefs(spark, bare).isEmpty) None
              else scala.util.Try(spark.table(bare).schema.fieldNames.toSeq)
                .toOption.map(_.filterNot(_ == "_part")
                  .filterNot(c => mat(c.toLowerCase)))
            }
          cols match {
            case Some(cs) if cs.nonEmpty =>
              val repl = cs.map(c => s"`$c`").mkString(", ")
              s = s.substring(0, starAt) + repl + s.substring(starAt + 1)
              searchFrom = starAt + repl.length
            case _ => searchFrom = starAt + 1
          }
      }
    }
    s
  }

  private val finalRe = "(?i)\\b(FROM|JOIN)\\s+([\\w`.]+)\\s+FINAL\\b".r

  /** `FROM t FINAL` on a Replacing/SummingMergeTree applies the
    * engine's merge on read: the merged frame registers as a temp view
    * and the reference is substituted. On any other table FINAL is a
    * no-op hint (the Transpiler drops the keyword). The merged frame
    * carries the table's ALIAS columns when the query names one (the
    * star was pre-expanded by [[rewriteMaterializedStar]], so `*`
    * never picks them up). */
  private def rewriteFinal(spark: SparkSession, sql: String): String =
    finalRe.replaceAllIn(sql, m => {
      val kw = m.group(1).toUpperCase
      val bare = m.group(2).replace("`", "")
      val view = "__graft_final_" + bare.replace(".", "_")
      def sub(df0: DataFrame): String = {
        val df =
          if (Ddl.aliasDefs(spark, bare)
              .exists(a => aliasNameIn(sql, a._1))) Ddl.aliasEnrich(spark, bare, df0)
          else df0
        df.createOrReplaceTempView(view)
        java.util.regex.Matcher.quoteReplacement(s"$kw $view")
      }
      (Ddl.replacingMeta(spark, m.group(2)),
        Ddl.summingMeta(spark, m.group(2)),
        Ddl.collapsingMeta(spark, m.group(2)),
        Ddl.aggregatingMeta(spark, m.group(2))) match {
        case (Some((keys, ver)), _, _, _) if keys.nonEmpty =>
          sub(Ddl.replacingDedup(spark.table(bare), keys, ver))
        case (_, Some((keys, cols)), _, _) if keys.nonEmpty =>
          sub(Ddl.summingMerge(spark.table(bare), keys, cols))
        case (_, _, Some((keys, sign, ver)), _) if keys.nonEmpty =>
          sub(Ddl.collapsingFold(spark.table(bare), keys, sign, ver))
        case (_, _, _, Some((keys, aggCols))) if keys.nonEmpty =>
          sub(Ddl.aggregatingMerge(spark.table(bare), keys, aggCols))
        case _ => m.matched
      }
    })

  /** Identifier-bounded, case-insensitive: does `sql` mention `name`? */
  private def aliasNameIn(sql: String, name: String): Boolean =
    ("(?i)(?<![\\w`])" + java.util.regex.Pattern.quote(name) +
      "(?![\\w`])").r.findFirstIn(sql).isDefined

  private val fromJoinTableRe = "(?i)\\b(FROM|JOIN)\\s+([\\w`.]+)".r

  /** ALIAS columns have no storage — when a query names one, the
    * table reference swaps to a temp view carrying the alias
    * expressions ([[Ddl.aliasEnrich]]; Catalyst prunes the unused
    * ones). Gated on an alias name actually appearing in the text, so
    * every other query pays nothing. Runs AFTER the star rewrite
    * (stars pre-expand against the physical schema, which excludes
    * aliases) and after FINAL (whose merged views enrich themselves). */
  private def rewriteAliasReads(spark: SparkSession, sql: String): String = {
    var s = sql
    fromJoinTableRe.findAllMatchIn(sql).map(_.group(2))
      .toSeq.distinct.foreach { spelled =>
        val bare = spelled.replace("`", "")
        if (!bare.startsWith("__graft_")) {
          val defs = scala.util.Try(Ddl.aliasDefs(spark, bare))
            .getOrElse(Nil)
          if (defs.nonEmpty && defs.exists(a => aliasNameIn(s, a._1))) {
            val view = "__graft_aliased_" +
              bare.replace(".", "_").toLowerCase
            Ddl.aliasEnrich(spark, bare, spark.table(bare))
              .createOrReplaceTempView(view)
            s = ("(?i)\\b(FROM|JOIN)\\s+" +
              java.util.regex.Pattern.quote(spelled) + "(?![\\w`.])").r
              .replaceAllIn(s, mm => java.util.regex.Matcher
                .quoteReplacement(s"${mm.group(1).toUpperCase} $view"))
          }
        }
      }
    s
  }

  private lazy val settingsTimer = {
    val t = new java.util.Timer("graft-settings-timeout", true)
    t
  }

  private val viewCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `alias.col` → col (plain identifiers only). */
  private def stripQual(e: String, alias: String): Option[String] = {
    val re = ("^`?" + java.util.regex.Pattern.quote(alias) +
      "`?\\.`?([A-Za-z_]\\w*)`?$").r
    re.findFirstMatchIn(e.trim).map(_.group(1))
  }

  /** Materialize FROM/JOIN-adjacent parenthesized subqueries as temp
    * views (lazy frames — no data moves) so the textual ASOF/ANY join
    * rewrites below only ever see bare relation names. Runs the inner
    * text through [[query]] recursively, so subqueries keep the full
    * dialect. Only invoked when the outer query contains a join form
    * Spark's parser cannot take. */
  private def flattenFromSubqueries(spark: SparkSession, sql0: String): String = {
    var s = sql0
    var sc = SqlScan(s)
    var from = 0
    var guard = 0
    val re = "(?is)\\b(FROM|JOIN)\\s*\\(".r
    while (guard < 32) {
      guard += 1
      val m = sc.codeMatches(re, from).nextOption().getOrElse(return s)
      val open = m.end - 1
      val close = sc.closing(open)
      if (close < 0) return s
      val inner = s.substring(open + 1, close)
      if ("(?is)^\\s*SELECT\\b".r.findFirstIn(inner).isDefined) {
        val view = "__graft_subq_" + viewCounter.incrementAndGet()
        query(spark, inner).createOrReplaceTempView(view)
        s = s.substring(0, m.start) + m.group(1) + " " + view +
          s.substring(close + 1)
        sc = SqlScan(s)
        from = 0
      } else from = close
    }
    s
  }

  private val anyJoinRe =
    ("(?is)\\bANY\\s+(LEFT|INNER|RIGHT|FULL)?\\s*JOIN\\s+([\\w`.]+)" +
      "(?:\\s+(?:AS\\s+)?(?!ON\\b)([A-Za-z_]\\w*))?\\s+ON\\s+(.+?)" +
      "(?=\\s+(?:WHERE|GROUP|HAVING|ORDER|LIMIT|SETTINGS|UNION|INTERSECT" +
      "|EXCEPT|LEFT|RIGHT|INNER|FULL|CROSS|ANY|ASOF|JOIN)\\b|\\s*$)").r

  /** ClickHouse `ANY [LEFT|INNER] JOIN`: at most one right-side row per
    * left row. ClickHouse picks an arbitrary ("any") matching row; this
    * engine picks a DETERMINISTIC representative — the least full row
    * per join key under ascending sort over all right columns in
    * declaration order — so results are stable across partitionings and
    * oracle-checkable. The right relation dedupes to one row per key
    * (row_number window = one keyed shuffle of the right side only),
    * then a plain LEFT/INNER join. `ANY RIGHT/FULL` (which dedupes the
    * LEFT side) must be written from the other side and fails loudly. */
  private def rewriteAnyJoin(spark: SparkSession, sql0: String): String = {
    val up = sql0.toUpperCase
    if (!up.contains("ANY") || !up.contains("JOIN")) return sql0
    val sql = flattenFromSubqueries(spark, sql0)
    anyJoinRe.replaceAllIn(sql, m => {
      val jt = Option(m.group(1)).map(_.trim.toUpperCase).getOrElse("INNER")
      if (jt == "RIGHT" || jt == "FULL")
        throw new UnsupportedOperationException(
          s"ANY $jt JOIN is not supported: ANY dedupes the LEFT side " +
            "there — rewrite the query with the sides swapped")
      val rtbl = m.group(2).replace("`", "")
      val ralias = Option(m.group(3))
        .getOrElse(rtbl.substring(rtbl.lastIndexOf('.') + 1))
      val cond = m.group(4)
      val keys = SqlScan(cond).splitKeyword("AND").map(_.trim).filter(_.nonEmpty).flatMap { c =>
        c.split("=") match {
          case Array(a, b) =>
            stripQual(a, ralias).orElse(stripQual(b, ralias))
          case _ => None
        }
      }.distinct
      if (keys.isEmpty) m.matched
      else {
        import org.apache.spark.sql.functions.{col, row_number}
        import org.apache.spark.sql.expressions.Window
        val rdf = spark.table(rtbl)
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(rdf.columns.map(col(_).asc): _*)
        val view = "__graft_any_" + viewCounter.incrementAndGet()
        rdf.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
          .createOrReplaceTempView(view)
        java.util.regex.Matcher.quoteReplacement(
          s"$jt JOIN $view AS $ralias ON $cond")
      }
    })
  }

  private val asofJoinRe =
    ("(?is)\\bFROM\\s+([\\w`.]+)" +
      "(?:\\s+(?:AS\\s+)?(?!ASOF\\b|LEFT\\b|INNER\\b|JOIN\\b)([A-Za-z_]\\w*))?" +
      "\\s+ASOF\\s+(LEFT\\s+)?(?:INNER\\s+)?JOIN\\s+([\\w`.]+)" +
      "(?:\\s+(?:AS\\s+)?(?!ON\\b)([A-Za-z_]\\w*))?\\s+ON\\s+(.+?)" +
      "(?=\\s+(?:WHERE|GROUP|HAVING|ORDER|LIMIT|SETTINGS|UNION)\\b|\\s*$)").r

  /** `FROM l ASOF [LEFT] JOIN r ON l.k = r.k AND l.ts >= r.ts` — routed
    * to the [[graft.operators.AsofJoin]] one-shuffle operator (SURVEY
    * §2.3 J5). Equality conjuncts are the keys; the single inequality
    * picks direction (`>=` backward, `<=` forward; strict forms are not
    * supported and fail loudly downstream). The join collapses to a
    * temp view and alias-qualified references are remapped: right keys
    * to the (equal) left key, other right columns to their carried
    * names. Subquery sides are flattened first, so both relations are
    * names by the time this runs. */
  private def rewriteAsofJoin(spark: SparkSession, sql0: String): String = {
    if (!sql0.toUpperCase.contains("ASOF")) return sql0
    var s = flattenFromSubqueries(spark, sql0)
    var guard = 0
    while (guard < 8) {
      guard += 1
      val m = asofJoinRe.findFirstMatchIn(s).getOrElse(return s)
      val ltbl = m.group(1).replace("`", "")
      val lalias = Option(m.group(2))
        .getOrElse(ltbl.substring(ltbl.lastIndexOf('.') + 1))
      val isLeft = Option(m.group(3)).isDefined
      val rtbl = m.group(4).replace("`", "")
      val ralias = Option(m.group(5))
        .getOrElse(rtbl.substring(rtbl.lastIndexOf('.') + 1))
      val cond = m.group(6)
      var pairs = Seq.empty[(String, String)]
      var tsSpec: Option[(String, String, Boolean)] = None // (lts, rts, forward)
      SqlScan(cond).splitKeyword("AND").map(_.trim).filter(_.nonEmpty).foreach { c =>
        val ineq = "(?s)^(.+?)(>=|<=)(.+)$".r.findFirstMatchIn(c)
        ineq match {
          case Some(im) =>
            val (a, op, b) = (im.group(1), im.group(2), im.group(3))
            (stripQual(a, lalias), stripQual(b, ralias),
              stripQual(a, ralias), stripQual(b, lalias)) match {
              case (Some(lc), Some(rc), _, _) =>
                tsSpec = Some((lc, rc, op == "<="))
              case (_, _, Some(rc), Some(lc)) =>
                tsSpec = Some((lc, rc, op == ">="))
              case _ => ()
            }
          case None => c.split("=") match {
            case Array(a, b) =>
              (stripQual(a, lalias), stripQual(b, ralias),
                stripQual(a, ralias), stripQual(b, lalias)) match {
                case (Some(lc), Some(rc), _, _) => pairs :+= ((lc, rc))
                case (_, _, Some(rc), Some(lc)) => pairs :+= ((lc, rc))
                case _ => ()
              }
            case _ => ()
          }
        }
      }
      if (pairs.isEmpty || tsSpec.isEmpty) return s
      val (lts, rts, fwd) = tsSpec.get
      val ldf = spark.table(ltbl)
      var rdf = spark.table(rtbl)
      pairs.foreach { case (lk, rk) =>
        if (lk != rk) {
          if (rdf.columns.contains(lk)) return s // rename would collide
          rdf = rdf.withColumnRenamed(rk, lk)
        }
      }
      val res = graft.operators.AsofJoin(ldf, rdf, pairs.map(_._1),
        lts, rts, rightPrefix = "__asofr_", inner = !isLeft, forward = fwd)
      val view = "__graft_asof_" + viewCounter.incrementAndGet()
      res.createOrReplaceTempView(view)
      val keyMap = pairs.map { case (lk, rk) => rk -> lk }.toMap
      s = s.substring(0, m.start) + s"FROM $view" + s.substring(m.end)
      s = ("(?i)\\b" + java.util.regex.Pattern.quote(ralias) +
        "\\.([A-Za-z_]\\w*)").r.replaceAllIn(s, rm =>
        keyMap.getOrElse(rm.group(1), s"__asofr_${rm.group(1)}"))
      s = ("(?i)\\b" + java.util.regex.Pattern.quote(lalias) +
        "\\.([A-Za-z_]\\w*)").r.replaceAllIn(s, rm => rm.group(1))
    }
    s
  }

  /** Honor the useful subset of per-query SETTINGS instead of silently
    * dropping them (reference relays all of them to chdb, main.py:190):
    *   - `max_result_rows` with `result_overflow_mode=break` truncates
    *     the result (the non-break default mode is `throw`, which would
    *     need a count per query — still dropped);
    *   - `max_execution_time` (seconds) cancels the query's job group
    *     when the budget expires. Execution happens on the calling
    *     thread in every production path (servers stream immediately),
    *     so the thread-scoped group catches the right jobs.
    * Unknown settings remain accepted and ignored. */
  /** Session-scoped settings from `SET k = v` statements — merged under
    * per-query `SETTINGS` (query wins), ClickHouse's precedence. Weak
    * keys: an evicted per-credential session drops its settings. */
  private val sessionSettings = scala.collection.mutable
    .WeakHashMap.empty[SparkSession, Map[String, String]]

  private[graft] def setSessionSettings(spark: SparkSession,
                                        kv: Seq[(String, String)]): Unit =
    sessionSettings.synchronized {
      val cur = sessionSettings.getOrElse(spark, Map.empty)
      // `SET k = DEFAULT` restores the default, i.e. drops the override
      val next = kv.foldLeft(cur) { case (m, (k, v)) =>
        if (v.equalsIgnoreCase("default")) m - k else m.updated(k, v)
      }
      sessionSettings.put(spark, next)
    }

  private def applySettings(spark: SparkSession, df: DataFrame,
                            st0: Map[String, String]): DataFrame = {
    val st = sessionSettings.synchronized {
      sessionSettings.getOrElse(spark, Map.empty)
    } ++ st0
    if (st.isEmpty) return df
    var out = df
    if (st.contains("max_result_rows") &&
        st.get("result_overflow_mode").contains("break"))
      out = out.limit(st("max_result_rows").toInt)
    st.get("max_execution_time").foreach { secs =>
      val group = "graft-timeout-" + java.util.UUID.randomUUID()
      spark.sparkContext.setJobGroup(group,
        s"max_execution_time=$secs", interruptOnCancel = true)
      val sc = spark.sparkContext
      settingsTimer.schedule(new java.util.TimerTask {
        override def run(): Unit =
          try sc.cancelJobGroup(group) catch { case _: Throwable => () }
      }, math.max(1L, (secs.toDouble * 1000).toLong))
    }
    out
  }

  /** One SELECT statement, handling the ClickHouse-only `LIMIT n BY`
    * clause (SURVEY §2.6 O4) as a row_number window over the inner
    * query's ORDER BY, and `ORDER BY ... WITH FILL` via the
    * gap-filling operator. */
  private def query(spark: SparkSession, bare00: String): DataFrame = {
    val (bare0, settings) = Transpiler.extractSettings(bare00)
    applySettings(spark, queryInner(spark, bare0), settings)
  }

  private def queryInner(spark: SparkSession, bare0: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, row_number}
    import org.apache.spark.sql.expressions.Window
    // ClickHouse EXPLAIN kinds, each mapped to the Spark artifact with
    // the same intent (one `explain` text row per line, like ClickHouse):
    //   SYNTAX     -> the transpiled Spark SQL (CH returns the rewritten
    //                 query; ours IS the dialect rewrite)
    //   AST / QUERY TREE -> analyzed logical plan
    //   PLAN (default)   -> optimized logical plan
    //   PIPELINE   -> formatted physical plan (the execution pipeline —
    //                 exactly what PLANS.md dumps)
    //   ESTIMATE   -> Catalyst cost estimate (bytes + rows when known)
    // The inner query runs through the FULL dialect path (ASOF, FINAL,
    // SAMPLE, WITH FILL...), so what you explain is what executes.
    val explainRe = ("(?is)^\\s*EXPLAIN" +
      "(?:\\s+(SYNTAX|AST|PLAN|PIPELINE|ESTIMATE|QUERY\\s+TREE))?" +
      "\\s+((?:SELECT|WITH)\\b.*)$").r
    bare0 match {
      case explainRe(kind0, inner) =>
        val kind = Option(kind0).map(_.toUpperCase.replaceAll("\\s+", " "))
          .getOrElse("PLAN")
        val df = query(spark, inner)
        import spark.implicits._
        def asRows(text: String): DataFrame =
          text.stripLineEnd.split("\n").toSeq.toDF("explain")
        return kind match {
          case "SYNTAX" => asRows(Transpiler.transpile(inner))
          case "AST" | "QUERY TREE" =>
            asRows(df.queryExecution.analyzed.treeString)
          case "PIPELINE" => asRows(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          case "ESTIMATE" =>
            val st = df.queryExecution.optimizedPlan.stats
            Seq((st.sizeInBytes.toString,
              st.rowCount.map(_.toString).getOrElse("")))
              .toDF("size_bytes", "rows")
          case _ => asRows(df.queryExecution.optimizedPlan.treeString)
        }
      case _ => ()
    }
    val bare = rewriteAsofJoin(spark, rewriteAnyJoin(spark,
      rewriteAliasReads(spark, rewriteFinal(spark,
        rewriteSample(spark, rewriteMaterializedStar(spark,
          Transpiler.expandStarModifiers(spark,
            rewriteSystemParts(spark, bare0))))))))
    Transpiler.withFillParts(bare) match {
      case Some((inner, prefix, fillKey, from, to, step, interp)) =>
        return graft.operators.WithFill(
          query(spark, inner), prefix, fillKey, from, to, step, interp)
      case None => ()
    }
    Transpiler.limitByParts(bare) match {
      case None =>
        try {
          val sql = Transpiler.transpile(bare)
          // analyze ONCE — Dataset creation runs the analyzer eagerly,
          // and both plan-level rewrites below match on the already-
          // analyzed plan. (Analyzing per-rewrite doubled parse+analysis
          // on every query: a 134-column hits query paid it twice.)
          val df = spark.sql(sql)
          // plan-level rewrites, both fall-back-safe (a misfire must
          // never break a query that would run): PROJECTION
          // merge-aggregation over the materialized partials, then
          // top-k lazy materialization (narrow key scan + pushdown-able
          // point refetch)
          scala.util.Try(Projections.maybeRewrite(df))
            .toOption.flatten
            .orElse(scala.util.Try(
              graft.operators.LateMaterialize.rewrite(df))
              .toOption.flatten)
            .getOrElse(df)
        }
        catch {
          // ClickHouse resolves select aliases in WHERE/HAVING; Spark
          // does not. Retry once with the aliases inlined — only an
          // already-failing query ever takes this path, so resolvable
          // queries keep Spark semantics untouched.
          case e: org.apache.spark.sql.AnalysisException
              if Option(e.getCondition).exists(_.startsWith("UNRESOLVED_COLUMN")) =>
            Transpiler.substituteSelectAliases(bare) match {
              case Some(rew) => spark.sql(Transpiler.transpile(rew))
              case None => throw e
            }
        }
      case Some((inner, n, byCols, outerLimit)) =>
        val orderItems =
          "(?is)\\bORDER\\s+BY\\s+(.+)$".r.findFirstMatchIn(inner)
            .map(_.group(1).split(",").map(_.trim).toSeq).getOrElse(Nil)
        def sortCols(items: Seq[String]) = items.map { it =>
          val m = "(?is)^(.*?)\\s+(ASC|DESC)$".r.findFirstMatchIn(it)
          m match {
            case Some(mm) if mm.group(2).equalsIgnoreCase("DESC") =>
              expr(Transpiler.transpile(mm.group(1))).desc
            case Some(mm) => expr(Transpiler.transpile(mm.group(1))).asc
            case None => expr(Transpiler.transpile(it)).asc
          }
        }
        val df = spark.sql(Transpiler.transpile(inner))
        val w = Window
          .partitionBy(byCols.map(c => expr(Transpiler.transpile(c))): _*)
          .orderBy((if (orderItems.nonEmpty) sortCols(orderItems)
                    else Seq(org.apache.spark.sql.functions.lit(1).asc)): _*)
        var out = df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= n).drop("__rn")
        if (orderItems.nonEmpty) out = out.orderBy(sortCols(orderItems): _*)
        outerLimit.foreach(m => out = out.limit(m))
        out
    }
  }

  /** Lands an INSERT … FORMAT payload, whichever way it arrived, under
    * the same bookkeeping as [[execute]]: the header is what
    * `system.query_log` and `system.processes` show. Values rows are
    * SQL literals and go through the SQL INSERT; every other format
    * parses through [[graft.formats.Formats.read]]. */
  private[graft] def insert(spark: SparkSession, h: InsertHeader, payload: Array[Byte],
                            user: String, queryId: Option[String]): DataFrame =
    tracked(spark, h.statement, user, queryId) {
      val format = h.format.get
      if (graft.formats.Formats.canonical(format) == "Values") {
        // reconstruct the column list — dropping it bound VALUES tuples
        // to the wrong columns when the client listed a subset
        val colList = h.cols.map(cs => s"(${cs.mkString(", ")}) ").getOrElse("")
        Ddl.insert(spark, s"INSERT INTO ${h.table} ${colList}VALUES " +
          new String(payload, java.nio.charset.StandardCharsets.UTF_8).trim)
      } else {
        val target = targetSchema(spark, h.table, h.cols)
        graft.formats.Formats.read(spark, format, graft.formats.Formats.Payload(payload),
          Some(target))(land(spark, h.table, _, Some(payload.length.toLong)))
      }
    }

  /** Appends `df` to `table`: unprovided columns fill with their
    * declared DEFAULT (else NULL), matched case-insensitively, and the
    * columns are emitted in table order. `payloadBytes` is the length
    * of the body `df` was parsed from, if any. */
  private[graft] def land(spark: SparkSession, table: String, df: DataFrame,
                          payloadBytes: Option[Long] = None): DataFrame = {
    Ddl.appendAligned(spark, table, Ddl.fillInsertable(spark, table, df), payloadBytes)
    spark.emptyDataFrame
  }

  /** INSERT target structure: the named columns, or every INSERTABLE
    * column (physical minus the derived `_part` partition key minus
    * MATERIALIZED columns). The single home for this rule — HTTP
    * binary formats, Arrow, and the native streaming INSERT sample
    * block must all agree on it. Naming a MATERIALIZED column
    * explicitly refuses, like the SQL column-list forms. */
  private[graft] def targetSchema(spark: SparkSession, table: String,
                                  cols: Option[Seq[String]])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val full = spark.table(table.replace("`", "")).schema
    cols match {
      case Some(cs) =>
        val mat = Ddl.materializedCols(spark, table)
        cs.find(c => mat(c.toLowerCase)).foreach(c =>
          throw new IllegalArgumentException(
            s"cannot insert column $c of $table: it is a MATERIALIZED " +
              "column (always computed, never inserted)"))
        val aliases = Ddl.aliasDefs(spark, table)
        cs.find(c => aliases.exists(_._1.equalsIgnoreCase(c))).foreach(c =>
          throw new IllegalArgumentException(
            s"cannot insert column $c of $table: it is an ALIAS column " +
              "(computed at read, never stored)"))
        // EPHEMERAL columns have no physical field — type from the
        // declared CH type (they may be named in any insert list)
        val ephs = Ddl.ephemeralDefs(spark, table)
        StructType(cs.map { c =>
          ephs.find(_._1.equalsIgnoreCase(c)) match {
            case Some(e) => org.apache.spark.sql.types.StructField(e._1,
              org.apache.spark.sql.types.DataType.fromDDL(
                Transpiler.mapTypeNames(e._2)))
            case None => full(full.fieldIndex(c))
          }
        })
      case None => StructType(Ddl.insertableFields(spark, table, full))
    }
  }
}
