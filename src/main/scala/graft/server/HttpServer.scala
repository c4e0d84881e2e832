package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer => JdkHttpServer}
import org.apache.spark.sql.SparkSession
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import graft.dialect.{Engine, Transpiler}
import graft.formats.Formats
import scala.util.control.NonFatal

/** ClickHouse-compatible HTTP endpoint (reference behavior at
  * /root/reference/main.py:849-917), a codec over the engine's one
  * query lifecycle ([[graft.dialect.Engine.serve]]): it parses a
  * request into an `Engine.Request` and encodes the handle it gets back.
  *
  *   - GET `/?query=...` and POST body queries (body + `query` param
  *     concatenated, param first — main.py:876-882)
  *   - `default_format` param, default TSV (main.py:853); in-query
  *     FORMAT clause wins (main.py:534-546 order)
  *   - `database=...` -> the statement's current database (main.py:860-861)
  *   - every other URL parameter except `query_id`, `user` and
  *     `password` is a setting, as in ClickHouse
  *   - `/ping` -> `Ok\n` (main.py:911-913)
  *   - basic auth accepted but not enforced (main.py:816-821 accepts
  *     any credentials); per-user catalog isolation is a non-goal here
  *   - errors -> HTTP 400 with the engine message (main.py:863-868)
  */
class HttpServer(spark: SparkSession, port: Int,
                 fixtureDir: Option[String] = None) {

  private val server = JdkHttpServer.create(new InetSocketAddress(port), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
    (r: Runnable) => new Thread(r, "graft-http-worker"))
  server.setExecutor(pool)

  /** The request's credentials, from the first source in ClickHouse
    * precedence: user=/password= URL params, X-ClickHouse-User/-Key
    * headers, then the Authorization header. Returns the session key
    * ("user:password") and the user it names. An Authorization header
    * that is not decodable Basic auth is its own opaque key and names
    * no user. */
  private def credentialsOf(ex: HttpExchange,
                            params: Map[String, String]): Option[(String, String)] = {
    def named(user: String, password: String) = (s"$user:$password", user)
    val fromParams = params.get("user").map(named(_, params.getOrElse("password", "")))
    val fromHeaders = Option(ex.getRequestHeaders.getFirst("X-ClickHouse-User"))
      .map(named(_, Option(ex.getRequestHeaders.getFirst("X-ClickHouse-Key")).getOrElse("")))
    // Basic auth arrives base64-coded — decode to the same "user:pass"
    // shape, so `curl -u default:` gets the shared root session too
    val fromAuth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      .map { h =>
        val basic = if (!h.startsWith("Basic ")) None
          else try Some(new String(java.util.Base64.getDecoder.decode(h.drop(6).trim), UTF_8))
          catch { case _: IllegalArgumentException => None }
        basic.fold((h, ""))(c => (c, c.takeWhile(_ != ':')))
      }
    fromParams.orElse(fromHeaders).orElse(fromAuth)
  }

  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try route(ex)
      catch { case NonFatal(t) => respond(ex, 500, t.getMessage + "\n") }
  })

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    if (path == "/ping") { respond(ex, 200, "Ok\n"); return }
    // load-balancer health probe (ClickHouse's replica-lag endpoint;
    // single node is always caught up)
    if (path == "/replicas_status") { respond(ex, 200, "Ok.\n"); return }
    if (path == "/play") {
      respondBytes(ex, 200, HttpServer.playHtml.getBytes(UTF_8), "text/html")
      return
    }

    val params = parseParams(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
    val bodyBytes = ex.getRequestBody.readAllBytes()
    // INSERT … FORMAT: the rows stay bytes (a binary payload must never
    // round-trip through UTF-8). Two client shapes: the statement in the
    // `query` param with the rows as the body (how clickhouse drivers
    // and `curl --data-binary` POST bulk data), or a body whose first
    // line is the statement.
    val (head, rowsFrom) = params.get("query") match {
      case Some(q) => (q, 0)
      case None =>
        val nl = bodyBytes.indexOf('\n'.toByte)
        val end = if (nl < 0) bodyBytes.length else nl + 1
        (new String(bodyBytes, 0, end, UTF_8), end)
    }
    val insert = Engine.insertHeader(head).collect {
      case (h, end) if h.format.isDefined && head.substring(end).trim.isEmpty =>
        (h, java.util.Arrays.copyOfRange(bodyBytes, rowsFrom, bodyBytes.length))
    }
    val body = if (insert.isDefined) "" else new String(bodyBytes, UTF_8).trim
    // param query first, then body (main.py:876-882 concatenation order)
    val query = (params.get("query").toSeq ++ (if (body.nonEmpty) Seq(body) else Nil))
      .mkString(" ").trim
    if (insert.isEmpty && query.isEmpty) {
      // GET with no query serves the query UI (main.py:856-857); POST
      // with no query is an error (main.py:892-893)
      if (ex.getRequestMethod == "POST")
        respond(ex, 400, "Error: no query parameter provided\n")
      else
        respondBytes(ex, 200, HttpServer.playHtml.getBytes(UTF_8), "text/html")
      return
    }

    val credentials = credentialsOf(ex, params)
    val session = credentials.fold(spark)(c => UserSessions.forKey(spark, c._1, fixtureDir))
    // user identity for system.query_log; anonymous requests log as
    // "default"
    val request = Engine.Request(insert.fold(query)(_._1.statement),
      credentials.map(_._2).filter(_.nonEmpty).getOrElse("default"),
      params.get("query_id"), params -- HttpServer.Reserved, params.getOrElse("database", ""),
      rows = insert.map { case (h, payload) => Engine.insertRows(_, h, payload) })
    if (insert.isDefined)
      Engine.serve(session, request)(q => { q.close(); respond(ex, 200, "") }, fail(ex, _))
    else select(ex, session, request, params.getOrElse("default_format", "TSV"))
  }

  /** Runs a statement and streams its result in the requested format. */
  private def select(ex: HttpExchange, session: SparkSession, request: Engine.Request,
                     defaultFormat: String): Unit = {
    val (bare, fmtClause) = Transpiler.extractFormat(request.sql)
    val fmt = fmtClause.getOrElse(defaultFormat)
    // resolved BEFORE anything runs or body() commits the 200 headers —
    // an unknown FORMAT must be a 400 with a message, not an empty 200
    val writer = try Formats.write(fmt) catch { case NonFatal(e) => return fail(ex, e) }
    // WITH TOTALS over HTTP: formats with a totals slot in their
    // ClickHouse layout (JSON envelopes' `totals` member, TSV's
    // blank-line-separated row) get the protocol split. Other formats
    // keep the dialect's inline GROUPING SETS row.
    Engine.serve(session, request.copy(sql = bare, totals = writer.rendersTotals))(q => {
      // response headers ClickHouse clients read
      ex.getResponseHeaders.set("X-ClickHouse-Format", fmt)
      ex.getResponseHeaders.set("X-ClickHouse-Timezone", "UTC")
      // The writer streams to the socket chunked (length 0), one
      // partition at a time. Parse/analysis errors were already raised
      // (Spark analyzes eagerly), so the 400 contract holds; a
      // mid-stream runtime failure truncates the body, the same visible
      // behavior as ClickHouse's own streamed HTTP. gzip the stream when
      // the client advertises it (ClickHouse's enable_http_compression).
      val gzip = Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
        .exists(_.toLowerCase.contains("gzip"))
      def body(): java.io.OutputStream = {
        ex.sendResponseHeaders(200, 0)
        // the statement retires after its last byte, before the body's
        // terminating chunk
        val last = new java.io.FilterOutputStream(ex.getResponseBody) {
          override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
          override def close(): Unit = { q.close(); super.close() }
        }
        val raw = new java.io.BufferedOutputStream(last, 1 << 16)
        if (gzip) new java.util.zip.GZIPOutputStream(raw, 1 << 16, true) else raw
      }
      if (gzip) ex.getResponseHeaders.set("Content-Encoding", "gzip")
      ex.getResponseHeaders.set("Content-Type", writer.contentType)
      writer(q.frame, () => body(), q.totals.flatMap(_.headOption), q.extremes)
    }, fail(ex, _))
  }

  /** The error contract: non-empty message, status 400 (main.py:863-868).
    * If streaming already started the headers are gone — close the
    * connection to truncate the body (client sees a short read). */
  private def fail(ex: HttpExchange, t: Throwable): Unit = {
    val msg = Option(t.getMessage).getOrElse(t.getClass.getSimpleName)
    try respond(ex, 400, msg + "\n")
    catch { case NonFatal(_) => ex.close() }
  }

  private def parseParams(raw: String): Map[String, String] =
    raw.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
    }.toMap

  private def respond(ex: HttpExchange, code: Int, text: String): Unit =
    respondBytes(ex, code, text.getBytes(UTF_8), "text/plain")

  private def respondBytes(ex: HttpExchange, code: Int, bytes: Array[Byte],
                           contentType: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  def start(): Unit = server.start()
  /** Closes the listener and ends the worker pool; its threads are not
    * daemons, so a pool left running would keep the JVM alive. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
  def boundPort: Int = server.getAddress.getPort
}

/** Per-credential isolated sessions, shared by both protocol servers
  * (reference: one chdb session dir per user:password hash,
  * main.py:140-173). Any credentials are accepted (main.py:816-821);
  * each gets its own SparkSession (own temp views) and its own default
  * database, so unqualified tables don't collide across users. */
object UserSessions {
  private val sessions =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.SparkSession]
  private val lastAccess = scala.collection.concurrent.TrieMap.empty[String, Long]

  // reference parity: per-session scratch state dies with the process
  // (SIGINT/SIGTERM handlers at main.py:934-952)
  Runtime.getRuntime.addShutdownHook(
    new Thread(() => purgeAll(), "graft-usersessions-purge"))

  /** Idle-session TTL, matching the reference's SESSION_TTL contract
    * (README.md:30: 3600 s). Without eviction the per-credential map
    * grows unboundedly under rotating credentials. */
  val TtlMillis: Long =
    sys.env.getOrElse("SESSION_TTL", "3600").toLong * 1000L

  private def evictExpired(): Unit = {
    val cutoff = System.currentTimeMillis() - TtlMillis
    lastAccess.filterInPlace { (key, at) =>
      if (at >= cutoff) true
      else {
        // session end: TEMPORARY tables die with it (ClickHouse
        // contract); the SparkSession itself shares the context and
        // needs no close
        sessions.remove(key).foreach { s =>
          graft.dialect.Ddl.dropTempTables(s)
          graft.Tables.forget(s)
        }
        false
      }
    }
  }

  private def dbNameFor(credentials: String): String = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(credentials.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    s"graft_user_$h"
  }

  /** The session of `credentials` ("user:password"): the default user
    * runs on the shared `root`, any other gets its own (catalog
    * isolation). Map key = the full credentials string — a 32-bit hash
    * key would merge colliding credentials into one session and leak
    * one user's catalog to another. The SHA-256 hex only names the
    * database. */
  def forKey(root: org.apache.spark.sql.SparkSession, credentials: String,
             fixtureDir: Option[String]): org.apache.spark.sql.SparkSession = {
    if (credentials == "default" || credentials.startsWith("default:")) return root
    evictExpired()
    lastAccess.put(credentials, System.currentTimeMillis())
    sessions.getOrElseUpdate(credentials, {
      val db = dbNameFor(credentials)
      val s = root.newSession()
      graft.dialect.ChFunctions.register(s)
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      s.catalog.setCurrentDatabase(db)
      fixtureDir.foreach(dir => graft.dialect.ChContext.setupViews(s, dir))
      s
    })
  }

  /** Remove every per-credential scratch database — catalog entry AND
    * on-disk warehouse directory (the reference purges per-session
    * /tmp state on SIGINT/SIGTERM, main.py:934-952). Servers call this
    * from their shutdown hook; idempotent. */
  def purgeAll(): Unit = synchronized {
    sessions.foreach { case (credentials, s) =>
      val db = dbNameFor(credentials)
      try {
        graft.dialect.Ddl.dropTempTables(s)
        val loc = java.nio.file.Paths.get(new java.net.URI(
          s.sessionState.catalog.getDatabaseMetadata(db).locationUri.toString))
        s.catalog.setCurrentDatabase("default")
        s.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
        graft.LocalFs.deleteTree(loc)
      } catch { case NonFatal(_) => () } // shutdown path: best-effort
      graft.Tables.forget(s)
    }
    sessions.clear()
    lastAccess.clear()
  }
}

object HttpServer {
  /** URL parameters that are not settings. */
  private val Reserved =
    Set("query", "database", "default_format", "query_id", "user", "password")

  /** Query UI served at /play — our own implementation of the contract
    * the reference's vendored ClickHouse Play page exercises
    * (main.py:907-917 serves it; it POSTs the query to `/` with
    * `default_format=JSONCompact` and renders the `{meta, data, rows,
    * statistics}` envelope, index.html:706-712). Same wire behavior,
    * independent page: editor with Ctrl+Enter, tabular results with
    * column types, row/elapsed stats, error surface, and a table
    * browser fed by the system.tables/system.columns probes. */
  val playHtml: String =
    """<!DOCTYPE html><html><head><meta charset="utf-8">
      |<title>graft play</title>
      |<style>
      |:root { --bg:#fff; --fg:#1a1a1a; --mut:#777; --line:#ddd; --acc:#e6a23c; }
      |@media (prefers-color-scheme: dark) {
      |  :root { --bg:#1e1e1e; --fg:#ddd; --mut:#999; --line:#444; --acc:#e6a23c; } }
      |body { background:var(--bg); color:var(--fg);
      |  font:14px/1.4 system-ui,sans-serif; margin:0; padding:12px; }
      |h1 { font-size:16px; margin:0 0 8px; }
      |h1 span { color:var(--acc); }
      |#q { width:100%; box-sizing:border-box; height:110px;
      |  background:var(--bg); color:var(--fg); border:1px solid var(--line);
      |  font:13px/1.4 ui-monospace,monospace; padding:8px; resize:vertical; }
      |#bar { margin:8px 0; display:flex; gap:12px; align-items:center; }
      |button { background:var(--acc); border:0; padding:6px 18px;
      |  font-weight:600; cursor:pointer; border-radius:3px; }
      |#stats { color:var(--mut); font-size:12px; }
      |#err { color:#d33; white-space:pre-wrap; font-family:monospace; }
      |table { border-collapse:collapse; font-size:13px; }
      |th,td { border:1px solid var(--line); padding:3px 8px; text-align:left;
      |  font-family:ui-monospace,monospace; white-space:pre; }
      |th { cursor:default; } th small { color:var(--mut); font-weight:400; }
      |#tables { color:var(--mut); font-size:12px; margin-top:10px; }
      |#tables code { cursor:pointer; margin-right:8px; }
      |</style></head><body>
      |<h1><span>graft</span> play</h1>
      |<textarea id="q" spellcheck="false">SELECT version()</textarea>
      |<div id="bar"><button onclick="run()">Run (Ctrl+Enter)</button>
      |<span id="stats"></span></div>
      |<div id="err"></div><div id="out"></div><div id="tables"></div>
      |<script>
      |const $ = id => document.getElementById(id);
      |function esc(s) { return String(s).replace(/[&<>]/g,
      |  c => ({'&':'&amp;','<':'&lt;','>':'&gt;'}[c])); }
      |async function q(sql) {
      |  const r = await fetch('/?default_format=JSONCompact',
      |    {method:'POST', body: sql});
      |  const text = await r.text();
      |  if (!r.ok) throw new Error(text);
      |  return JSON.parse(text);
      |}
      |async function run() {
      |  $('err').textContent = ''; $('out').innerHTML = '';
      |  $('stats').textContent = '…';
      |  try {
      |    const t0 = performance.now();
      |    const j = await q($('q').value);
      |    const ms = (performance.now() - t0).toFixed(0);
      |    $('stats').textContent = j.rows + ' rows, ' + ms + ' ms (server ' +
      |      (j.statistics.elapsed * 1000).toFixed(0) + ' ms)';
      |    let h = '<table><tr>' + j.meta.map(m => '<th>' + esc(m.name) +
      |      '<br><small>' + esc(m.type) + '</small></th>').join('') + '</tr>';
      |    for (const row of j.data.slice(0, 1000))
      |      h += '<tr>' + row.map(v => '<td>' +
      |        (v === null ? '<i>NULL</i>' : esc(typeof v === 'object' ?
      |          JSON.stringify(v) : v)) + '</td>').join('') + '</tr>';
      |    $('out').innerHTML = h + '</table>' + (j.data.length > 1000 ?
      |      '<p>showing first 1000 of ' + j.rows + ' rows</p>' : '');
      |  } catch (e) { $('stats').textContent = ''; $('err').textContent = e.message; }
      |}
      |$('q').addEventListener('keydown', e => {
      |  if (e.key === 'Enter' && (e.ctrlKey || e.metaKey)) run(); });
      |(async () => {
      |  try {
      |    const j = await q('SELECT database, name FROM system.tables ' +
      |      "WHERE database NOT IN ('system') ORDER BY database, name");
      |    $('tables').innerHTML = 'tables: ' + j.data.map(r =>
      |      '<code>' + esc(r[1]) + '</code>').join('');
      |    for (const c of $('tables').querySelectorAll('code'))
      |      c.onclick = () => { $('q').value =
      |        'SELECT * FROM ' + c.textContent + ' LIMIT 100'; run(); };
      |  } catch (e) {}
      |})();
      |</script></body></html>
      |""".stripMargin
}

/** `runMain graft.server.ServeMain [port] [sfDir]` — boots the engine,
  * registers the fixture tables as views, serves the ClickHouse HTTP
  * API. */
object ServeMain {
  /** The served engine's session, shared with [[NativeServeMain]]. */
  private[server] def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.sql.codegen.maxFields", "200")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8123)
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.001")
    val spark = session()
    graft.dialect.ChContext.setup(spark, dir)
    val srv = new HttpServer(spark, port, Some(dir))
    srv.start()
    // close the listener and purge per-credential scratch on SIGTERM
    // (UserSessions registers its own purge hook; this adds the socket)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => srv.stop(), "graft-http-stop"))
    println(s"[graft-http] listening on :$port over $dir")
    Thread.currentThread().join()
  }
}
