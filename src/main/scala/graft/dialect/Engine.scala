package graft.dialect

import java.util.concurrent.ScheduledThreadPoolExecutor
import java.util.concurrent.TimeUnit.MILLISECONDS
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.util.control.NonFatal

/** Statement router and the one query lifecycle: every statement, from
  * either wire or a library caller, runs through [[run]], which owns its
  * query id, settings, deadline, KILL QUERY, WITH TOTALS row, extremes
  * and log entries. Raw SQL may be several statements (`USE db; query`
  * — the reference prefixes the database the same way, main.py:860-861). */
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
    * of ClickHouse's table). A served statement's duration runs until
    * its codec closes it after the last byte of its answer; a library
    * statement's ends when [[execute]] returns, before the caller reads
    * a SELECT's rows. */
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

  /** One statement as a wire or a library caller hands it over.
    * `queryId` keys `system.processes` and KILL QUERY; generated when
    * empty. `settings` ride beside the SQL (URL parameters, QUERY-packet
    * settings), over the session's `SET` and under the statement's
    * `SETTINGS` clause. `database` is current for this statement alone;
    * empty or `default` keeps the session's. `totals`: the codec has a
    * totals slot, so `WITH TOTALS` runs as the protocol split. `rows`
    * lands the rows the wire carries for an `INSERT … FORMAT` header. */
  final case class Request(sql: String, user: String = "default",
                           queryId: Option[String] = None,
                           settings: Map[String, String] = Map.empty,
                           database: String = "", totals: Boolean = false,
                           rows: Option[SparkSession => Unit] = None)

  /** A started statement, the handle [[run]] returns. Its jobs run in
    * the job group `graft-qid-<id>` (perfbench and the specs count jobs
    * by that name) and carry a job tag of this run, which KILL QUERY,
    * `max_execution_time` and [[cancel]] reach. */
  final class Query private[Engine] (val id: String, val sql: String, val user: String,
                                     private[Engine] val session: SparkSession, scoped: Boolean) {
    private[Engine] val tag = s"graft-run-${runs.incrementAndGet()}"
    private[Engine] val startMs = System.currentTimeMillis()
    private[Engine] val isSelect = selectKindRe.findFirstIn(sql).isDefined
    @volatile private[Engine] var cancelled: Option[String] = None
    private[Engine] var starting = false
    private[Engine] var totalsSql: Option[String] = None
    private[Engine] var result: DataFrame = _
    private var settings = Map.empty[String, String]
    @volatile private var deadline: Option[java.util.concurrent.ScheduledFuture[_]] = None
    private val closed, logged = new AtomicBoolean

    /** The statement's rows; DDL and DML answer an empty frame. */
    def frame: DataFrame = result

    /** The WITH TOTALS row (none when HAVING drops it), if split. */
    lazy val totals: Option[Seq[Row]] =
      totalsSql.map(tq => executeInner(session, tq).limit(2).collect().toSeq)

    /** (min row, max row) of the frame when the `extremes` setting is
      * on: numeric, date and timestamp columns get their min and max,
      * the others NULL. */
    lazy val extremes: Option[(Row, Row)] =
      if (!settings.get("extremes").exists(Set("1", "true")) || frame.schema.isEmpty) None
      else {
        import org.apache.spark.sql.functions.{col, lit, max, min}
        import org.apache.spark.sql.types.{DateType, NumericType, TimestampType}
        val aggs = frame.schema.fields.toSeq.flatMap(f => f.dataType match {
          case _: NumericType | DateType | _: TimestampType =>
            Seq(min(col(s"`${f.name}`")), max(col(s"`${f.name}`")))
          case dt => Seq.fill(2)(lit(null).cast(dt))
        })
        val ext = frame.agg(aggs.head, aggs.tail: _*).head().toSeq.grouped(2).toSeq
        Some((Row.fromSeq(ext.map(_.head)), Row.fromSeq(ext.map(_(1)))))
      }

    /** Cancels the running jobs; later ones fail as they start. The run
      * leaves `system.processes` at once. */
    def cancel(reason: String): Unit = {
      cancelled = Some(reason)
      session.sparkContext.cancelJobsWithTag(tag, reason)
    }

    /** Retires the run, once: ends its deadline and `database` session,
      * leaves `system.processes`, logs `QueryFinish` unless it failed. A
      * codec calls it after the answer's last byte, before the
      * terminator, so a client holding the answer finds it logged. */
    def close(): Unit = if (closed.compareAndSet(false, true)) {
      deadline.foreach(_.cancel(false))
      live.remove(tag)
      if (current.get eq this) current.remove()
      log(failed = false)
      if (scoped) graft.Tables.forget(session)
    }

    private[Engine] def fail(): Unit = { log(failed = true); close() }

    /** Logs the run once; the log never logs its own reads. */
    private[Engine] def log(failed: Boolean): Unit = if (logged.compareAndSet(false, true)) {
      if (failed) cFailed.incrementAndGet()
      if (failed || !sql.toLowerCase.contains("system.query_log"))
        record(LogEntry(startMs, sql, System.currentTimeMillis() - startMs,
          if (failed) "ExceptionWhileProcessing" else "QueryFinish", user))
    }

    /** Merges `over` into the run's settings. A changed
      * `max_execution_time` re-arms the deadline, which cancels the run
      * that many seconds from now; 0 is no limit, as in ClickHouse. */
    private[Engine] def settle(over: Map[String, String]): Map[String, String] = {
      val before = settings.get("max_execution_time")
      settings ++= over
      if (settings.get("max_execution_time") != before) {
        deadline.foreach(_.cancel(false))
        deadline = settings.get("max_execution_time").map(s => (s, (s.toDouble * 1000).toLong))
          .collect { case (s, ms) if ms > 0 && !closed.get => deadlines.schedule(
            (() => cancel(s"max_execution_time = $s s exceeded")): Runnable, ms, MILLISECONDS) }
      }
      settings
    }
  }

  /** Open runs by job tag, read by `system.processes` (less the
    * cancelled) and KILL QUERY. A run leaves when it closes, when its
    * thread starts its next statement, or, oldest first, at a cap. */
  private val live = scala.collection.concurrent.TrieMap.empty[String, Query]
  private val maxRunning = 200
  private val runs = new AtomicLong
  /** This thread's open run: a statement it issues while the run
    * starts (a CREATE … AS SELECT's SELECT) joins it. */
  private val current = new ThreadLocal[Query]

  private lazy val deadlines = new ScheduledThreadPoolExecutor(1, (r: Runnable) => {
    val t = new Thread(r, "graft-deadline"); t.setDaemon(true); t }) { setRemoveOnCancelPolicy(true) }

  /** Deadline timer tasks not yet run or cancelled. */
  private[graft] def pendingDeadlines: Int = deadlines.getQueue.size

  @volatile private var listening: SparkContext = _

  /** One listener fails each job of a cancelled run as it starts:
    * cancelling by tag reaches only the jobs running at the time, and
    * Spark's `cancelJobGroupAndFutureJobs` would go on failing a later
    * statement that reuses the query id. */
  private def listenOn(sc: SparkContext): Unit = if (listening ne sc) synchronized {
    if (listening ne sc) sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags"))).foreach(
          _.split(",").iterator.flatMap(live.get).flatMap(_.cancelled).nextOption()
            .foreach(sc.cancelJob(e.jobId, _)))
    })
    listening = sc
  }

  /** A wire's statement: `encode` writes the handle's outputs. The one
    * catch site: a failure, starting or while the answer streams, is
    * logged once and handed to `fail` to encode for the wire. */
  def serve(spark: SparkSession, request: Request)(encode: Query => Unit,
                                                   fail: Throwable => Unit): Unit = {
    var q: Option[Query] = None
    try { q = Some(run(spark, request)); encode(q.get) }
    catch { case NonFatal(e) => q.foreach(_.fail()); fail(e) }
    finally q.foreach(_.close())
  }

  def execute(spark: SparkSession, rawSql: String, user: String = "default",
              queryId: Option[String] = None): DataFrame =
    execute(spark, Request(rawSql, user, queryId))

  /** The library entry: [[run]] with no codec. A statement issued while
    * this thread's run starts is part of it. Otherwise the run is logged
    * when this returns and DDL/DML retire; a SELECT's jobs run at the
    * caller's sink, so it stays in reach of KILL QUERY and its deadline
    * until the thread's next statement. */
  def execute(spark: SparkSession, request: Request): DataFrame =
    Option(current.get).filter(_.starting) match {
      case Some(outer) => work(spark, request, outer)
      case None =>
        val q = run(spark, request)
        if (q.isSelect) q.log(failed = false) else q.close()
        q.frame
    }

  /** The lifecycle's entry: registers `request` as a run (id, session,
    * job group and tag, settings, deadline, counters) and executes its
    * synchronous part. The thread's previous run retires first (library
    * callers never close). The caller closes the handle; a failure to
    * start is logged, retires the run and is rethrown. */
  def run(spark: SparkSession, request: Request): Query = {
    Option(current.get).foreach(_.close())
    val id = request.queryId.filter(_.nonEmpty).getOrElse(java.util.UUID.randomUUID().toString)
    val text = insertHeader(request.sql)
      .collect { case (h, _) if h.format.isDefined => h.statement }.getOrElse(request.sql)
    // `database` runs on a derived session (same catalog, own current
    // database, the base session's fixture views), like the
    // reference's per-query `USE db;` (main.py:860-861): setting the
    // shared session's would race concurrent requests
    val session = request.database match {
      case "" | "default" => spark
      case db =>
        val s = spark.newSession()
        ChContext.shareViews(spark, s)
        s.catalog.setCurrentDatabase(db)
        s
    }
    val q = new Query(id, text, request.user, session, session ne spark)
    val sc = spark.sparkContext
    listenOn(sc)
    sc.setJobGroup(s"graft-qid-$id", text.take(200), interruptOnCancel = true)
    sc.removeJobTags(sc.getJobTags().filter(_.startsWith("graft-run-")))
    sc.addJobTag(q.tag)
    current.set(q)
    if (live.size >= maxRunning)
      live.values.toSeq.sortBy(_.startMs).take(live.size - maxRunning + 1)
        .foreach(r => live.remove(r.tag))
    live.put(q.tag, q)
    cQuery.incrementAndGet()
    if (q.isSelect) cSelect.incrementAndGet()
    if (insertKindRe.findFirstIn(text).isDefined) cInsert.incrementAndGet()
    try {
      q.starting = true
      q.settle(sessionSettingsOf(spark) ++ request.settings.map { case (k, v) => k.toLowerCase -> v })
      ChFunctions.register(q.session)
      // lazy durable-catalog restore: first statement of a fresh JVM
      // re-registers persisted tables/dictionaries/projections
      CatalogStore.ensureRestored(q.session)
      val split = if (request.totals) Transpiler.splitTotals(request.sql) else None
      q.totalsSql = split.map(_._2)
      q.result = work(q.session, request.copy(sql = split.fold(request.sql)(_._1)), q)
      q
    } catch {
      case NonFatal(e) => q.fail(); throw e
    } finally q.starting = false
  }

  /** A statement's work under run `q`: a KILL QUERY, the rows of an
    * INSERT … FORMAT (from the wire or inline), or the SQL. */
  private def work(spark: SparkSession, request: Request, q: Query): DataFrame =
    (killQueryRe.findFirstMatchIn(request.sql), request.rows, insertHeader(request.sql)) match {
      case (Some(m), _, _) => killQuery(spark, m.group(1), q)
      case (_, Some(land), _) => land(spark); spark.emptyDataFrame
      case (_, _, Some((h, end))) if h.format.isDefined =>
        insertRows(spark, h, request.sql.substring(end).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        spark.emptyDataFrame
      case _ => executeInner(spark, request.sql)
    }

  // cumulative profile counters behind system.events (ClickHouse's
  // own counter names); started-at stamp feeds the Uptime metric
  private val startedAtMs = System.currentTimeMillis()
  private val cQuery = new AtomicLong
  private val cSelect = new AtomicLong
  private val cInsert = new AtomicLong
  private val cFailed = new AtomicLong

  /** system.settings, live: defaults merged with the session's SET
    * overrides (`changed` = 1 exactly for overrides, like ClickHouse). */
  private[graft] def settingsSnapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val base = Map("max_threads" -> "32", "session_timezone" -> "UTC",
      "readonly" -> "0")
    val over = sessionSettingsOf(spark)
    (base ++ over).toSeq.sortBy(_._1)
      .map { case (k, v) => (k, v, if (over.contains(k)) 1 else 0, "") }
      .toDF("name", "value", "changed", "description")
  }

  private def listed: Seq[Query] =
    live.values.filter(_.cancelled.isEmpty).toSeq.sortBy(_.startMs)

  /** system.metrics: point-in-time gauges (live, not a snapshot). */
  private[graft] def metricsSnapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rt = Runtime.getRuntime
    Seq(
      ("Query", listed.size.toLong, "Number of executing queries"),
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
    listed.map(q => (q.id, q.user, (now - q.startMs) / 1000.0, q.sql))
      .toDF("query_id", "user", "elapsed", "query")
  }

  private val killQueryRe =
    "(?is)^\\s*KILL\\s+QUERY\\s+WHERE\\s+(.+?)\\s*(?:SYNC|ASYNC|TEST)?\\s*$".r

  /** `KILL QUERY WHERE <cond> [SYNC|ASYNC|TEST]` — the predicate runs
    * over the system.processes frame (so any of its columns work),
    * every matched run but the KILL's own is cancelled, and the
    * ClickHouse result shape (kill_status, query_id, user, query)
    * returns. */
  private def killQuery(spark: SparkSession, cond: String, self: Query): DataFrame = {
    import spark.implicits._
    val matched = processesSnapshot(spark)
      .filter(org.apache.spark.sql.functions.expr(Transpiler.transpile(cond)))
      .select("query_id").collect().map(_.getString(0)).toSet
    listed.filter(q => (q ne self) && matched(q.id)).map { q =>
      q.cancel(s"killed by KILL QUERY (query_id ${q.id})")
      ("finished", q.id, q.user, q.sql)
    }.toDF("kill_status", "query_id", "user", "query")
  }

  private val selectKindRe = "(?is)^\\s*(SELECT|WITH|EXPLAIN)\\b".r
  private val insertKindRe = "(?is)^\\s*INSERT\\b".r

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

  /** Session-scoped settings from `SET k = v` statements, the lowest
    * layer of a run's settings. Weak keys: an evicted per-credential
    * session drops its settings. */
  private val sessionSettings = scala.collection.mutable
    .WeakHashMap.empty[SparkSession, Map[String, String]]

  private def sessionSettingsOf(spark: SparkSession): Map[String, String] =
    sessionSettings.synchronized(sessionSettings.getOrElse(spark, Map.empty))

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

  /** One SELECT statement, handling the ClickHouse-only `LIMIT n BY`
    * clause (SURVEY §2.6 O4) as a row_number window over the inner
    * query's ORDER BY, and `ORDER BY ... WITH FILL` via the
    * gap-filling operator. Its `SETTINGS` clause merges over the run's
    * settings (the reference relays all of them to chdb, main.py:190),
    * of which `max_execution_time`, `extremes` and `max_result_rows`
    * with `result_overflow_mode=break` are honored; the others are
    * accepted and ignored (`throw`, the default overflow mode, too). */
  private def query(spark: SparkSession, bare00: String): DataFrame = {
    val (bare0, clause) = Transpiler.extractSettings(bare00)
    val st = current.get.settle(clause)
    val df = queryInner(spark, bare0)
    if (st.contains("max_result_rows") && st.get("result_overflow_mode").contains("break"))
      df.limit(st("max_result_rows").toInt)
    else df
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

  /** Lands an INSERT … FORMAT payload as one statement, like
    * [[execute]]: the header is what `system.query_log` and
    * `system.processes` show. */
  private[graft] def insert(spark: SparkSession, h: InsertHeader, payload: Array[Byte],
                            user: String, queryId: Option[String]): DataFrame =
    execute(spark, Request(h.statement, user, queryId, rows = Some(insertRows(_, h, payload))))

  /** The rows of an INSERT … FORMAT, whichever way they arrived.
    * Values rows are SQL literals and go through the SQL INSERT; every
    * other format parses through [[graft.formats.Formats.read]]. */
  private[graft] def insertRows(spark: SparkSession, h: InsertHeader,
                                payload: Array[Byte]): Unit =
    if (graft.formats.Formats.canonical(h.format.get) == "Values") {
      // reconstruct the column list — dropping it bound VALUES tuples
      // to the wrong columns when the client listed a subset
      val colList = h.cols.map(cs => s"(${cs.mkString(", ")}) ").getOrElse("")
      Ddl.insert(spark, s"INSERT INTO ${h.table} ${colList}VALUES " +
        new String(payload, java.nio.charset.StandardCharsets.UTF_8).trim)
    } else {
      val target = targetSchema(spark, h.table, h.cols)
      graft.formats.Formats.read(spark, h.format.get, graft.formats.Formats.Payload(payload),
        Some(target))(land(spark, h.table, _, Some(payload.length.toLong)))
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
