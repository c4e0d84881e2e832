package graft.dialect

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** ClickHouse's special-purpose table engines re-expressed over the
  * managed-parquet mapping:
  *
  *   - `Null` — a schema-only sink: INSERTs are discarded (after firing
  *     any materialized views over the inserted block — the classic
  *     Null→MV ingestion fan-out), reads are empty.
  *   - `Set` — a persisted value set readable ONLY through `x IN t`
  *     (direct FROM refuses, like ClickHouse's "Method read is not
  *     supported by storage Set").
  *   - `Join(strictness, kind, k1[, k2...])` — a persisted right-hand
  *     side for joins plus the `joinGet`/`joinGetOrNull` point lookup.
  *     ANY strictness dedupes by key at insert (first write wins, the
  *     ClickHouse contract); ALL keeps every row.
  *   - `Buffer(db, table, num_layers, min_time, max_time, min_rows,
  *     max_rows, min_bytes, max_bytes)` — a small staging table whose
  *     reads transparently union the destination; flushed into the
  *     destination when max_rows/max_time thresholds pass, on
  *     `OPTIMIZE TABLE buf`, and on DETACH. num_layers and the
  *     byte/min thresholds parse and persist but do not subdivide the
  *     single staging area (one writer; ClickHouse's layers only shard
  *     its in-memory mutex).
  *   - `Merge(db, 'regex')` — a read-only face over every table in
  *     `db` whose name matches the regex, re-resolved at each query
  *     (tables created later join the face automatically); provides
  *     the `_table` virtual column; INSERT refuses.
  *
  * All five render through SHOW CREATE via [[Ddl.TableMeta.engineSpec]]
  * and persist in the durable catalog. Reference surface: the engines
  * are part of the dialect the reference delegates wholesale
  * (/root/reference/main.py:190); semantics follow ClickHouse's public
  * documentation, implementation is Spark-first (reads stay declarative
  * rewrites into UNION/IN subqueries — Catalyst sees plain relational
  * plans, so pushdown/broadcast/AQE apply unchanged).
  *
  * Scale notes: a Buffer flush moves only the (threshold-bounded)
  * staged rows through [[Ddl.appendAligned]], so the destination's
  * MergeTree layout and MV fan-out apply to flushed blocks exactly as
  * to direct inserts. A Merge read is a UNION ALL of member scans —
  * per-member filters/projections still push down to each parquet scan.
  */
object SpecialEngines {

  // ---------------------------------------------------------------
  // CREATE-time validation + canonical spec rendering
  // ---------------------------------------------------------------

  /** Canonical engineSpec for the special engines, None for everything
    * else. Throws loudly on malformed arguments — a silently-degraded
    * Buffer or Join is the one wrong option. */
  private[dialect] def createSpec(spark: SparkSession, engine: String,
                                  engineArgs: String, name: String,
                                  colNames: Seq[String]): Option[String] = {
    val args = SqlScan(engineArgs.replace("`", "")).split(',')
      .map(_.trim).filter(_.nonEmpty)
    engine.toLowerCase match {
      case "null" | "set" =>
        if (args.nonEmpty) throw new IllegalArgumentException(
          s"ENGINE=${engine} takes no arguments, got: $engineArgs")
        Some(if (engine.equalsIgnoreCase("null")) "Null" else "Set")
      case "join" =>
        if (args.length < 3) throw new IllegalArgumentException(
          "ENGINE=Join needs (ANY|ALL, join_kind, k1[, k2...]), " +
            s"got: $engineArgs")
        val strictness = args.head.toUpperCase
        val kind = args(1).toUpperCase
        if (strictness != "ANY" && strictness != "ALL")
          throw new IllegalArgumentException(
            s"ENGINE=Join strictness must be ANY or ALL, got: ${args.head}")
        if (!Set("LEFT", "INNER", "RIGHT", "FULL", "SEMI", "ANTI")(kind))
          throw new IllegalArgumentException(
            s"ENGINE=Join kind must be LEFT/INNER/RIGHT/FULL/SEMI/ANTI, " +
              s"got: ${args(1)}")
        val keys = args.drop(2)
        keys.foreach { k =>
          if (!colNames.exists(_.equalsIgnoreCase(k)))
            throw new IllegalArgumentException(
              s"ENGINE=Join key $k is not a column of $name")
        }
        Some(s"Join($strictness, $kind, ${keys.mkString(", ")})")
      case "buffer" =>
        if (args.length != 9) throw new IllegalArgumentException(
          "ENGINE=Buffer needs (db, table, num_layers, min_time, " +
            "max_time, min_rows, max_rows, min_bytes, max_bytes), " +
            s"got ${args.length} argument(s)")
        val db = args(0).stripPrefix("'").stripSuffix("'")
        val tbl = args(1).stripPrefix("'").stripSuffix("'")
        val nums = args.drop(2).map { a =>
          try java.lang.Long.parseLong(a.trim)
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"ENGINE=Buffer threshold must be an integer, got: $a") }
        }
        Some(s"Buffer($db, $tbl, ${nums.mkString(", ")})")
      case "merge" =>
        if (args.length != 2) throw new IllegalArgumentException(
          s"ENGINE=Merge needs (db, 'regex'), got: $engineArgs")
        val db = args(0).stripPrefix("'").stripSuffix("'")
        val re0 = args(1).trim
        if (!(re0.startsWith("'") && re0.endsWith("'")))
          throw new IllegalArgumentException(
            s"ENGINE=Merge regex must be a quoted string, got: $re0")
        val re = re0.substring(1, re0.length - 1)
        try java.util.regex.Pattern.compile(re)
        catch { case e: Exception => throw new IllegalArgumentException(
          s"ENGINE=Merge regex does not compile: $re (${e.getMessage})") }
        Some(s"Merge($db, '$re')")
      case _ => None
    }
  }

  // ---------------------------------------------------------------
  // parsed accessors (always derived from the live TableMeta — the
  // registry follows DROP/RENAME/EXCHANGE/restore lifecycles for free)
  // ---------------------------------------------------------------

  private[dialect] def specOf(norm: String): Option[String] =
    Ddl.metaOf(norm).flatMap(_.engineSpec)

  private def kindOf(spec: String): String = spec.takeWhile(_.isLetter)

  private def argsOf(spec: String): Seq[String] = {
    val o = spec.indexOf('(')
    if (o < 0) Nil
    else SqlScan(spec).split(',', o + 1, spec.lastIndexOf(')'))
      .map(_.trim).filter(_.nonEmpty)
  }

  private[dialect] def isNull(norm: String): Boolean =
    specOf(norm).exists(kindOf(_) == "Null")
  private[dialect] def isMerge(norm: String): Boolean =
    specOf(norm).exists(kindOf(_) == "Merge")

  private[dialect] case class JoinSpec(strictness: String, kind: String,
                                       keys: Seq[String])
  private[dialect] def joinOf(norm: String): Option[JoinSpec] =
    specOf(norm).filter(kindOf(_) == "Join").map { s =>
      val a = argsOf(s)
      JoinSpec(a.head, a(1), a.drop(2))
    }

  private[dialect] case class BufferSpec(target: String, numLayers: Long,
                                         minTime: Long, maxTime: Long,
                                         minRows: Long, maxRows: Long,
                                         minBytes: Long, maxBytes: Long)
  private[dialect] def bufferOf(norm: String): Option[BufferSpec] =
    specOf(norm).filter(kindOf(_) == "Buffer").map { s =>
      val a = argsOf(s)
      BufferSpec(s"${a(0)}.${a(1)}", a(2).toLong, a(3).toLong,
        a(4).toLong, a(5).toLong, a(6).toLong, a(7).toLong, a(8).toLong)
    }

  private[dialect] def mergeOf(norm: String): Option[(String, String)] =
    specOf(norm).filter(kindOf(_) == "Merge").map { s =>
      val a = argsOf(s)
      (a(0), a(1).stripPrefix("'").stripSuffix("'"))
    }

  // ---------------------------------------------------------------
  // write side — called from Ddl.appendAligned (the universal insert
  // funnel: SELECT/VALUES/column-list/FORMAT payloads all land there)
  // ---------------------------------------------------------------

  /** Adjust (or swallow) an insert block per the table's engine.
    * Returns None when nothing must be written (Null — the caller
    * still received the block for MV firing), Some(df) otherwise. */
  private[dialect] def interceptAppend(spark: SparkSession, norm: String,
                                       block: DataFrame): Option[DataFrame] =
    specOf(norm) match {
      case Some(s) if kindOf(s) == "Null" => None
      case Some(s) if kindOf(s) == "Merge" =>
        throw new UnsupportedOperationException(
          s"ENGINE=Merge table $norm is read-only — insert into one of " +
            "its member tables")
      case Some(s) if kindOf(s) == "Join" =>
        val js = joinOf(norm).get
        if (js.strictness == "ANY") {
          // ANY keeps the FIRST row per key: dedupe within the block,
          // then drop keys already stored (one broadcast-able anti-join
          // against the key projection, never a full-table rewrite)
          val existing = spark.table(norm).select(
            js.keys.map(org.apache.spark.sql.functions.col): _*).distinct()
          Some(block.dropDuplicates(js.keys)
            .join(existing, js.keys, "left_anti"))
        } else Some(block)
      case _ => Some(block)
    }

  // ---------------------------------------------------------------
  // Buffer flush machinery
  // ---------------------------------------------------------------

  /** first-insert wall-clock per buffer (in-memory: a restart only
    * delays a time-based flush until the next insert or OPTIMIZE —
    * ClickHouse likewise loses its flush timers on abnormal restart). */
  private val bufferSince = TrieMap.empty[String, Long]
  private val flushLocks = TrieMap.empty[String, Object]

  /** Called after every committed append. Triggers a flush when the
    * buffered row count reaches max_rows or the oldest buffered row is
    * older than max_time seconds. */
  private[dialect] def afterAppend(spark: SparkSession, norm: String): Unit =
    bufferOf(norm).foreach { spec =>
      bufferSince.putIfAbsent(norm, System.currentTimeMillis())
      maybeFlush(spark, norm, spec, force = false)
    }

  /** Flush `norm`'s staged rows into its destination. Returns true if
    * the table IS a buffer (whether or not rows moved). */
  private[dialect] def flushIfBuffer(spark: SparkSession,
                                     norm: String): Boolean =
    bufferOf(norm) match {
      case Some(spec) => maybeFlush(spark, norm, spec, force = true); true
      case None => false
    }

  private def maybeFlush(spark: SparkSession, norm: String,
                         spec: BufferSpec, force: Boolean): Unit = {
    val lock = flushLocks.getOrElseUpdate(norm, new Object)
    lock.synchronized {
      val rows = spark.table(norm).count()
      if (rows == 0) { bufferSince.remove(norm); return }
      val ageSec = bufferSince.get(norm)
        .map(t => (System.currentTimeMillis() - t) / 1000L).getOrElse(0L)
      if (force || rows >= spec.maxRows || ageSec >= spec.maxTime) {
        // destination first (its layout + MVs apply to the flushed
        // block like any insert), then truncate the staging area
        Ddl.appendAligned(spark, spec.target, spark.table(norm))
        spark.sql(s"TRUNCATE TABLE $norm")
        bufferSince.remove(norm)
      }
    }
  }

  // ---------------------------------------------------------------
  // read side — string rewrites applied at the top of
  // Transpiler.transpile (so INSERT...SELECT bodies and every query
  // path see them); each is guarded by a cheap contains() probe
  // ---------------------------------------------------------------

  /** All read rewrites. No-op without an active SparkSession (pure
    * expression-fragment transpiles never hit the guards anyway).
    * Order matters: Set-read refusal inspects the USER's text (before
    * the IN rewrite legitimately emits `FROM set_table` internally),
    * and the IN rewrite runs before face expansion so `x IN buf` sees
    * the buffer union too. */
  private[dialect] def rewriteReads(s0: String): String =
    SparkSession.getActiveSession match {
      case None => s0
      case Some(spark) =>
        var s = s0
        if (s.toLowerCase.contains("joinget"))
          s = rewriteJoinGet(spark, s)
        if ("(?i)\\bmerge\\s*\\(".r.findFirstIn(s).isDefined)
          s = rewriteMergeFunction(spark, s)
        refuseSetReads(spark, s)
        if ("(?i)\\bIN\\s".r.findFirstIn(s).isDefined)
          s = rewriteInTable(spark, s)
        s = rewriteEngineFaces(spark, s)
        s
    }

  /** Direct FROM/JOIN over a Set-engine table refuses, like ClickHouse
    * ("Method read is not supported by storage Set"). Runs against the
    * user's original text — the internal IN rewrite may legitimately
    * read the backing table afterwards. */
  private def refuseSetReads(spark: SparkSession, s: String): Unit =
    Ddl.allMetas.foreach { case (norm, m) =>
      if (m.engineSpec.exists(kindOf(_) == "Set")) {
        val re = ("(?i)\\b(?:FROM|JOIN)\\s+" +
          nameAlternation(spark, norm) + "(?![\\w`.(])").r
        if (re.findFirstIn(s).isDefined)
          throw new UnsupportedOperationException(
            s"storage Set ($norm) does not support direct reads — " +
              "use `expr IN " + norm.substring(norm.indexOf('.') + 1) + "`")
      }
    }

  /** The (db-qualified, bare-if-current-db) name variants a table is
    * referenced by, as a regex alternation. */
  private def nameAlternation(spark: SparkSession, norm: String): String = {
    val Array(db, tbl) = norm.split("\\.", 2)
    val q = java.util.regex.Pattern.quote _
    val quali = s"`?${q(db)}`?\\.`?${q(tbl)}`?"
    val current = try spark.catalog.currentDatabase catch {
      case _: Throwable => "default" }
    if (current.equalsIgnoreCase(db)) s"(?:$quali|`?${q(tbl)}`?)" else quali
  }

  /** Buffer faces read destination ∪ staged rows; Merge faces expand to
    * the live member union; Set faces refuse direct reads. */
  private def rewriteEngineFaces(spark: SparkSession, s0: String): String = {
    var s = s0
    Ddl.allMetas.foreach { case (norm, m) =>
      m.engineSpec.map(kindOf) match {
        case Some("Buffer") =>
          val spec = bufferOf(norm).get
          val re = ("(?i)\\b(FROM|JOIN)\\s+" +
            nameAlternation(spark, norm) + "(?![\\w`.(])").r
          if (re.findFirstIn(s).isDefined) {
            // a read is a flush opportunity too (the time threshold may
            // pass between inserts); ClickHouse's background flusher
            // runs on its own timer — this engine piggybacks on reads
            val age = bufferSince.get(norm)
              .map(t => (System.currentTimeMillis() - t) / 1000L)
            if (age.exists(_ >= spec.maxTime))
              maybeFlush(spark, norm, spec, force = true)
            val bare = norm.substring(norm.indexOf('.') + 1)
            val Array(db, tbl) = norm.split("\\.", 2)
            // explicit column list from the face's schema: the
            // destination may be partitioned (`_part`), the staging
            // table never is — SELECT * would misalign the union
            val cols = spark.table(norm).schema.fieldNames
              .map(c => s"`$c`").mkString(", ")
            s = re.replaceAllIn(s, mm =>
              s"${mm.group(1)} (SELECT $cols FROM ${spec.target} " +
                s"UNION ALL SELECT $cols FROM `$db`.`$tbl`) $bare")
          }
        case Some("Merge") =>
          val (mdb, regex) = mergeOf(norm).get
          val re = ("(?i)\\b(FROM|JOIN)\\s+" +
            nameAlternation(spark, norm) + "(?![\\w`.(])").r
          if (re.findFirstIn(s).isDefined) {
            val bare = norm.substring(norm.indexOf('.') + 1)
            val sub = mergeUnionSql(spark, mdb, regex, norm,
              wantTable = "(?i)\\b_table\\b".r.findFirstIn(s0).isDefined)
            sub.foreach { u =>
              s = re.replaceAllIn(s, mm => s"${mm.group(1)} ($u) $bare")
            }
            // no members: the face's own (empty) physical table answers
          }
        case _ => ()
      }
    }
    s
  }

  /** UNION ALL over the live member set of a Merge face (None when no
    * table matches). Column list = the face's declared schema, selected
    * by name from each member; other Merge faces are excluded (no
    * recursion). `_table` is only materialized when the query asks. */
  private def mergeUnionSql(spark: SparkSession, db: String, regex: String,
                            faceNorm: String,
                            wantTable: Boolean): Option[String] = {
    // partial match, like ClickHouse ('^WatchLog' matches WatchLog_2018)
    val p = java.util.regex.Pattern.compile(regex)
    val members =
      try spark.sessionState.catalog
        .listTables(db).map(_.table).filter(t => p.matcher(t).find())
        .filterNot(t => s"$db.$t".toLowerCase == faceNorm)
        .filterNot(t => isMerge(s"$db.$t".toLowerCase))
        .sorted
      catch { case _: Throwable => Nil }
    if (members.isEmpty) return None
    val cols = spark.table(faceNorm).schema.fieldNames
      .filterNot(_ == "_part").map(c => s"`$c`").mkString(", ")
    Some(members.map { t =>
      val tcol = if (wantTable) s"'$t' AS `_table`, " else ""
      s"SELECT $tcol$cols FROM `$db`.`$t`"
    }.mkString(" UNION ALL "))
  }

  /** `merge(db, 'regex')` / `merge('db', 'regex')` table function —
    * the ad-hoc form of the Merge engine. Structure comes from the
    * first matching table (the ClickHouse contract). */
  private def rewriteMergeFunction(spark: SparkSession, s0: String): String = {
    val re = ("(?i)\\bmerge\\s*\\(\\s*'?([\\w]+)'?\\s*,\\s*" +
      "'([^']+)'\\s*\\)").r
    re.replaceAllIn(s0, mm => {
      val (db, regex) = (mm.group(1), mm.group(2))
      val p = java.util.regex.Pattern.compile(regex)
      val members =
        try spark.sessionState.catalog
          .listTables(db).map(_.table).filter(t => p.matcher(t).find())
          .filterNot(t => isMerge(s"$db.$t".toLowerCase)).sorted
        catch { case _: Throwable => Nil }
      if (members.isEmpty) throw new IllegalArgumentException(
        s"merge($db, '$regex') matches no table")
      val wantTable = "(?i)\\b_table\\b".r.findFirstIn(s0).isDefined
      val cols = spark.table(s"`$db`.`${members.head}`").schema.fieldNames
        .filterNot(_ == "_part").map(c => s"`$c`").mkString(", ")
      val u = members.map { t =>
        val tcol = if (wantTable) s"'$t' AS `_table`, " else ""
        s"SELECT $tcol$cols FROM `$db`.`$t`"
      }.mkString(" UNION ALL ")
      java.util.regex.Matcher.quoteReplacement(s"($u)")
    })
  }

  /** `x IN t` / `x NOT IN t` / `x GLOBAL IN t` where `t` is a known
    * table → `IN (SELECT * FROM t)` (ClickHouse accepts a bare table —
    * most idiomatically the Set engine — wherever IN takes a set).
    * Unknown identifiers stay untouched (they may be aliases). */
  private def rewriteInTable(spark: SparkSession, s0: String): String = {
    val re = ("(?i)\\b(?:(GLOBAL)\\s+)?(NOT\\s+)?IN\\s+" +
      "([A-Za-z_][\\w]*(?:\\.[\\w]+)?)(?![\\w.('])").r
    re.replaceAllIn(s0, mm => {
      val ident = mm.group(3)
      val keyword = Set("select", "partition", "values", "format",
        "outfile", "all", "any", "distinct", "group", "order", "where",
        "sample", "null", "true", "false")
      val known = !keyword(ident.toLowerCase) &&
        (try spark.catalog.tableExists(ident) catch { case _: Throwable => false })
      if (!known) java.util.regex.Matcher.quoteReplacement(mm.matched)
      else {
        val not = Option(mm.group(2)).map(_ => "NOT ").getOrElse("")
        java.util.regex.Matcher.quoteReplacement(
          s"${not}IN (SELECT * FROM $ident)")
      }
    })
  }

  // ---------------------------------------------------------------
  // joinGet / joinGetOrNull
  // ---------------------------------------------------------------

  /** `joinGet('db.jt', 'col', k1[, k2...])` → a correlated scalar
    * subquery against the Join-engine table, coalesced to the value
    * column's type default (ClickHouse returns the type default on a
    * missing key; joinGetOrNull returns NULL). Catalyst decorrelates
    * the equality subquery into a plain left join — no per-row probe. */
  private def rewriteJoinGet(spark: SparkSession, s: String): String = {
    val sc = SqlScan(s)
    sc.replaceCalls("(?i)\\bjoinGet(OrNull)?\\s*\\(".r) { (mm, close) =>
      val orNull = mm.group(1) != null
      val args = sc.split(',', mm.end, close).map(_.trim).filter(_.nonEmpty)
      if (args.length < 3) throw new IllegalArgumentException(
        s"joinGet needs (table, value_column, key...), got: ${mm.matched}")
      def unq(a: String) =
        a.trim.stripPrefix("'").stripSuffix("'").replace("`", "")
      val tref = unq(args.head)
      val vcol = unq(args(1))
      val norm = Ddl.normalizeName(spark, tref)
      val js = joinOf(norm).getOrElse(throw new IllegalArgumentException(
        s"joinGet: $tref is not an ENGINE=Join table"))
      val keyExprs = args.drop(2).map(rewriteJoinGet(spark, _))
      if (keyExprs.length != js.keys.length)
        throw new IllegalArgumentException(
          s"joinGet: $tref has ${js.keys.length} key(s) " +
            s"(${js.keys.mkString(", ")}), got ${keyExprs.length}")
      val field = spark.table(norm).schema.fields
        .find(_.name.equalsIgnoreCase(vcol))
        .getOrElse(throw new IllegalArgumentException(
          s"joinGet: $tref has no column $vcol"))
      val cond = js.keys.zip(keyExprs)
        .map { case (k, e) => s"`$k` = ($e)" }.mkString(" AND ")
      val sub = s"(SELECT any(`${field.name}`) FROM $norm WHERE $cond)"
      if (orNull) sub
      else s"coalesce($sub, ${typeDefaultLiteral(field.dataType)})"
    }
  }

  private def typeDefaultLiteral(
      dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: FloatType | _: DoubleType | _: DecimalType => "0"
      case _: StringType => "''"
      case _: BooleanType => "false"
      case _: DateType => "DATE '1970-01-01'"
      case _: TimestampType => "TIMESTAMP '1970-01-01 00:00:00'"
      case _: ArrayType => "array()"
      case _ => "NULL"
    }
  }
}
