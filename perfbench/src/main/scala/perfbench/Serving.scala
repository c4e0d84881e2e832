package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Mixed serving traffic: four closed-loop clients, two over HTTP and
  * two over native TCP, each sending its next statement when the last
  * one is answered. The mix holds short reads (version(), point
  * lookups, small aggregates, a system.tables probe), small INSERT …
  * VALUES batches into a MergeTree table and reads of it, exports of a
  * few thousand rows in TSV, JSONEachRow, Native and Arrow, and
  * INSERT … FORMAT TSV imports. The seed picks each client's statement
  * order and the statements' literals. */
object Serving {
  val Db = "perfbench_srv"
  val Ins = s"$Db.ins"
  val Imp = s"$Db.imp"
  /** Export formats over HTTP; native TCP clients receive Native blocks. */
  val Formats: Seq[String] = Seq("TSV", "JSONEachRow", "Native", "Arrow")

  /** `lineitem` as the engine answers `SELECT *` on it, in ClickHouse
    * types. */
  val LineitemCols: String =
    "l_orderkey Int64, l_partkey Int64, l_suppkey Int64, l_linenumber Int32, " +
      "l_quantity Float64, l_extendedprice Float64, l_discount Float64, " +
      "l_tax Float64, l_returnflag String, l_linestatus String, l_shipdate DateTime"
  /** What imports load: its TSV export, read back with INSERT … FORMAT
    * TSV. TSV is the one format in which the engine reads back its own
    * export of `lineitem` (see README: engine defects). */
  val ImportSource = "SELECT * FROM lineitem WHERE l_shipdate >= '2001-10-20'"
  private val InsertRows = 20

  /** A client's statement kinds, each once. No recorded traffic of the
    * engine's clients exists to weight them by, so the mix is assumed
    * uniform over kinds; the gated latencies are taken per kind
    * (`Result.windowMetrics`), so the mix sets how statements contend,
    * not which of them a metric measures. A client deals whole decks in
    * shuffled order, so every run sends the same mix. */
  def deck(tcp: Boolean): Seq[String] =
    Seq("version", "point", "agg", "tables", "insert") ++
      (if (tcp) Seq("export.native")
       else Seq("read", "import") ++ Formats.map(f => s"export.${f.toLowerCase}"))

  /** One statement a client sends: `format` is the reply format over
    * HTTP, `payload` the body of an import. */
  final case class Stmt(kind: String, sql: String, format: String = "TSV",
                        payload: Array[Byte] = null)

  def run(e: Engine, a: Args, tr: Tracer, res: Result, out: Outcomes): Unit = {
    val spark = e.spark
    val r0 = new Random(a.seed)
    // aggregates over one calendar year of shipments, whichever years
    val aggYears = Seq.fill(2)(1995 + r0.nextInt(6))
    val pointKeys = Seq.fill(4)(r0.nextInt(150000).toLong)
    // two weeks of shipments, about 3,400 rows, whichever weeks
    val exportFrom = java.time.LocalDate.parse("2001-01-01").plusDays(r0.nextInt(280))

    val ex = (sql: String, id: String) => Lib.execute(spark, sql, id)
    ex(s"CREATE DATABASE IF NOT EXISTS $Db", "srv-ddl-0")
    ex(s"DROP TABLE IF EXISTS $Ins SYNC", "srv-ddl-1")
    ex(s"CREATE TABLE $Ins (k UInt64, c UInt32, v String) ENGINE = MergeTree ORDER BY k", "srv-ddl-2")
    ex(s"DROP TABLE IF EXISTS $Imp SYNC", "srv-ddl-3")
    ex(s"CREATE TABLE $Imp ($LineitemCols) ENGINE = MergeTree ORDER BY l_orderkey", "srv-ddl-4")
    val payload = Lib.bytes(spark, ImportSource, "TSV", "srv-payload")

    val started = new AtomicLong // insert rows sent
    val acked = new AtomicLong // insert rows acknowledged
    val imports = new AtomicLong // imports acknowledged
    val nextKey = new AtomicLong
    // every timed SELECT: (kind, sql, reply format, native TCP, reply)
    val answers = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String, Boolean, Reply)]()

    def make(kind: String, r: Random, tcp: Boolean): Stmt = {
      def any[T](xs: Seq[T]) = xs(r.nextInt(xs.length))
      kind match {
        case "version" => Stmt(kind, "SELECT version()")
        case "point" => Stmt(kind,
          "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders " +
            s"WHERE o_orderkey = ${any(pointKeys)}")
        case "agg" => Stmt(kind,
          "SELECT l_returnflag, l_linestatus, count() AS c, sum(l_quantity) AS q FROM lineitem " +
            s"WHERE toYear(l_shipdate) = ${any(aggYears)} GROUP BY l_returnflag, l_linestatus " +
            "ORDER BY l_returnflag, l_linestatus")
        case "tables" => Stmt(kind,
          s"SELECT name, engine FROM system.tables WHERE database = '$Db' ORDER BY name")
        case "insert" =>
          val vals = (1 to InsertRows).map { _ =>
            s"(${nextKey.incrementAndGet()}, ${r.nextInt(1000)}, 'v${r.nextInt(100000)}')"
          }.mkString(", ")
          Stmt(kind, s"INSERT INTO $Ins VALUES $vals")
        case "read" => Stmt(kind, s"SELECT count() AS n FROM $Ins")
        case export if export.startsWith("export.") =>
          val f = Formats.find(f => s"export.${f.toLowerCase}" == export).get
          Stmt(export, "SELECT * FROM lineitem " +
            s"WHERE l_shipdate >= '$exportFrom' AND l_shipdate < '${exportFrom.plusDays(14)}'", f)
        case "import" => Stmt("import.tsv", s"INSERT INTO $Imp FORMAT TSV", "TSV", payload)
      }
    }

    final class Client(idx: Int, val tcp: Boolean) {
      private val rnd = new Random(a.seed * 1009 + idx)
      private val proto = if (tcp) "tcp" else "http"
      private val http = new HttpClient(e.http.boundPort)
      private var native: NativeClient = _
      private var n = 0L
      /** Statements timed, and the time this client spent on them. */
      var timed = 0L
      var busyNs = 0L

      private def call(s: Stmt, id: String, keep: java.io.ByteArrayOutputStream): Reply =
        if (tcp) {
          if (native == null) native = new NativeClient(e.native.boundPort)
          val r = native.query(s.sql, id)
          if (r.status < 0) { native.close(); native = null } // desynced: reconnect
          r
        } else if (s.payload == null) http.query(s.sql, s.format, id, keep)
        else http.post(Seq("query_id" -> id), (s.sql + "\n").getBytes(UTF_8) ++ s.payload)

      def warmUp(): Unit = deck(tcp).distinct.foreach(kind => send(kind, record = false))

      /** Sends untimed statements of its mix while `busy` holds. */
      def load(busy: => Boolean): Unit = {
        val kinds = Iterator.continually(rnd.shuffle(deck(tcp))).flatten
        while (busy) send(kinds.next(), record = false)
      }

      /** Deals one deck; `record` times it and checks its answers. */
      def deal(record: Boolean): Unit = {
        val t0 = System.nanoTime()
        rnd.shuffle(deck(tcp)).foreach(kind => send(kind, record))
        if (record) busyNs += System.nanoTime() - t0
      }

      private def send(kind: String, record: Boolean): Unit = {
        val s = make(kind, rnd, tcp)
        n += 1
        val id = s"srv-$idx-$n"
        val rows = if (kind == "insert") InsertRows else 0
        started.addAndGet(rows)
        val lo = acked.get
        val keep = if (kind == "read") new java.io.ByteArrayOutputStream() else null
        val r = tr.span("statement", id)(tr.span(s"server.$proto", id)(call(s, id, keep)))
        val hi = started.get
        val ok = r.status == 200
        if (ok) acked.addAndGet(rows)
        if (ok && s.payload != null) imports.incrementAndGet()
        val key = s"${s.kind}.$proto"
        if (!record) ()
        else if (!ok) out.fail(s"$key: status ${r.status} ${r.error}")
        else {
          timed += 1
          res.add(key, r.totalNs / 1e6)
          if (keep != null) {
            val got = new String(keep.toByteArray, UTF_8).trim.toLong
            if (got < lo || got > hi) out.fail(s"$key: $got rows, expected $lo..$hi") else out.ok()
          } else if (s.payload != null || kind == "insert") out.ok()
          else answers.add((key, s.sql, if (tcp) "Native" else s.format, tcp, r))
        }
      }
      def close(): Unit = if (native != null) native.close()
    }

    val clients = Seq(new Client(0, tcp = false), new Client(1, tcp = false),
      new Client(2, tcp = true), new Client(3, tcp = true))
    def together(body: Client => Unit): Unit =
      clients.map { c => val t = new Thread(() => body(c)); t.start(); t }.foreach(_.join())
    // warm-up: every client sends each of its statement kinds once
    together(_.warmUp())
    Host.HeapPeak.reset()
    val layers = if (a.trace) Some(new Layers(e, tr)) else None
    layers.foreach(_.attach())
    // the window: each client deals whole decks until the deadline has
    // passed, so the mix is the same in every run; throughput is each
    // client's own, summed, so clients that finish early do not count
    // idle time. A client that has finished keeps sending untimed
    // statements until the last one has, so every timed statement
    // meets the same three competitors.
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    val timing = new java.util.concurrent.atomic.AtomicInteger(clients.size)
    together { c =>
      while (System.nanoTime() < deadline) c.deal(record = true)
      timing.decrementAndGet()
      c.load(timing.get > 0)
    }
    clients.foreach(_.close())
    res.windowMetrics(clients.map(c => c.timed / (c.busyNs / 1e9)).sum)

    // checks, outside the window: every SELECT answer against the
    // library path; the insert table holds exactly the acknowledged
    // rows; the import table holds one copy of the source per import
    val all = answers.asScala.toSeq
    val refs = Lib.digests(spark, all.map { case (_, sql, fmt, tcp, _) => (sql, fmt, tcp) }.distinct)
    all.foreach { case (key, sql, fmt, tcp, r) =>
      if (r.digest == refs((sql, fmt, tcp))) out.ok()
      else out.fail(s"$key: answer differs from the library path")
    }
    val insRows = ex(s"SELECT count() FROM $Ins", "srv-check-ins").collect()(0).getLong(0)
    if (insRows != acked.get) out.reject(s"insert: table has $insRows rows, ${acked.get} acknowledged")
    val src = signature(spark, ImportSource)
    val got = signature(spark, s"SELECT * FROM $Imp")
    val k = imports.get
    if (got != (src._1 * k, src._2 * k))
      out.reject(s"import.tsv: $got after $k imports of $src (rows, content hash)")

    layers.foreach { l =>
      res.metrics("server.ttfb_ms") = Stats.median(answers.asScala.toSeq.map(_._5.ttfbNs / 1e6))
      val r = new Random(a.seed)
      val reps = Seq("version", "point", "agg", "tables", "export.tsv")
        .map(k => k -> make(k, r, tcp = false).sql)
      val wire = l.overhead(res, reps.map(_._2), pairs = 4)
      val bds = reps.map { case (k, sql) => k -> l.select(sql, "TSV", s"layer-$k") }.toMap
      l.report(res, bds, reps.map { case (k, sql) => k -> wire(sql) }.toMap)
      l.nativeOverhead(res, reps.map(_._2))
      l.writes(res)
      l.operators(res)
    }
  }

  /** (rows, order-insensitive content hash) of a statement's answer. */
  private def signature(spark: org.apache.spark.sql.SparkSession, sql: String): (Long, BigInt) = {
    val df = Lib.execute(spark, sql, s"srv-sig-${sql.hashCode}")
    val cols = df.columns.map(c => s"CAST(`$c` AS STRING)").mkString(", ")
    val row = df.selectExpr(s"xxhash64(concat_ws('|', $cols)) AS h")
      .selectExpr("count(*)", "sum(CAST(h AS DECIMAL(38, 0)))").collect()(0)
    (row.getLong(0), Option(row.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0)))
  }
}
