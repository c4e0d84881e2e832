package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.Socket
import graft.server.{NativeServer, NativeServer => P}

/** Raw-socket protocol tests mirroring the reference's hand-rolled
  * native client (/root/reference/test/test_suite.py:181-292). */
class NativeServerSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestSession.spark
  private var server: NativeServer = _

  override def beforeAll(): Unit = {
    graft.dialect.ChContext.setup(spark, "/root/testdata/sf0.001")
    server = new NativeServer(spark, 0, Some("/root/testdata/sf0.001"),
      blockRows = 10) // small blocks so multi-block framing is exercised
    server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  private val ClientRevision = 54468L

  private def connect(): (Socket, BufferedInputStream, BufferedOutputStream) = {
    val sock = new Socket("localhost", server.boundPort)
    (sock, new BufferedInputStream(sock.getInputStream),
      new BufferedOutputStream(sock.getOutputStream))
  }

  private def hello(out: BufferedOutputStream): Unit = {
    P.writeVarint(out, P.ClientHello)
    P.writeStr(out, "test-client")
    P.writeVarint(out, 25); P.writeVarint(out, 5)
    P.writeVarint(out, ClientRevision)
    P.writeStr(out, "default"); P.writeStr(out, "default"); P.writeStr(out, "")
    // addendum (negotiated revision >= 54458): quota key string sent
    // right after the server HELLO — real clients always send this
    P.writeStr(out, "")
    out.flush()
  }

  private def readServerHello(in: BufferedInputStream): (String, Long, Long, Long) = {
    assert(P.readVarint(in) === P.ServerHello)
    val name = P.readStr(in)
    val major = P.readVarint(in); val minor = P.readVarint(in)
    val revision = P.readVarint(in)
    if (revision >= 54058) P.readStr(in) // timezone
    if (revision >= 54372) P.readStr(in) // display name
    if (revision >= 54401) P.readVarint(in) // patch
    if (revision >= 54461) P.readVarint(in) // password rules
    if (revision >= 54462) P.readFixed(in, 8) // nonce
    (name, major, minor, revision)
  }

  private def sendQuery(out: BufferedOutputStream, sql: String,
                        settings: Seq[(String, String)] = Nil): Unit = {
    P.writeVarint(out, P.ClientQuery)
    P.writeStr(out, "test-query-id")
    // client info (kind != 0 path)
    out.write(1)
    P.writeStr(out, "default"); P.writeStr(out, ""); P.writeStr(out, "0.0.0.0:0")
    P.writeFixed(out, 8)(_.putLong(0L)) // initial query start time
    out.write(1) // interface TCP
    P.writeStr(out, "test"); P.writeStr(out, "test-host"); P.writeStr(out, "test-client")
    P.writeVarint(out, 25); P.writeVarint(out, 5); P.writeVarint(out, ClientRevision)
    P.writeStr(out, "") // quota key
    P.writeVarint(out, 0) // distributed depth
    P.writeVarint(out, 2) // client version patch (rev >= 54401)
    out.write(0) // no OpenTelemetry trace context (rev >= 54442)
    P.writeVarint(out, 0); P.writeVarint(out, 0); P.writeVarint(out, 0) // parallel replicas (rev >= 54453)
    settings.foreach { case (k, v) =>
      P.writeStr(out, k); out.write(0); P.writeStr(out, v)
    }
    P.writeStr(out, "") // end of settings
    P.writeStr(out, "") // inter-server secret
    P.writeVarint(out, 2) // stage: complete
    P.writeVarint(out, 0) // no compression
    P.writeStr(out, sql)
    P.writeStr(out, "") // end of parameters
    // external-tables terminator: real clients (clickhouse-driver
    // send_external_tables) ALWAYS send one empty Data block right
    // after the Query packet — the INSERT bulk-write path depends on
    // consuming it before the insert data stream
    P.writeVarint(out, P.ClientData)
    P.writeStr(out, "")
    P.writeVarint(out, 1); out.write(0)
    P.writeVarint(out, 2); P.writeFixed(out, 4)(_.putInt(-1))
    P.writeVarint(out, 0)
    P.writeVarint(out, 0); P.writeVarint(out, 0) // n_cols=0, n_rows=0
    out.flush()
  }

  /** Read server packets until END_OF_STREAM; returns (dataBlocks, exception). */
  private def readResponse(in: BufferedInputStream):
      (Seq[Seq[(String, String, Vector[Any])]], Option[String]) = {
    val blocks = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, String, Vector[Any])]]
    var err: Option[String] = None
    var done = false
    while (!done) {
      P.readVarint(in) match {
        case P.ServerData =>
          P.readStr(in) // table name
          // BlockInfo
          var f = P.readVarint(in)
          while (f != 0) { if (f == 1) in.read() else if (f == 2) P.readFixed(in, 4); f = P.readVarint(in) }
          blocks += readBlock(in)
          packetOrder += "DATA"
        case P.ServerProgress =>
          lastProgressRows = P.readVarint(in) // read_rows
          P.readVarint(in) // read_bytes
          P.readVarint(in) // total_rows_to_read (revision >= 51554)
          if (ClientRevision >= 54463) P.readVarint(in) // total_bytes_to_read
          if (ClientRevision >= 54420) { P.readVarint(in); P.readVarint(in) }
          if (ClientRevision >= 54460) P.readVarint(in) // elapsed_ns
        case P.ServerTotals =>
          P.readStr(in) // table name
          var f = P.readVarint(in)
          while (f != 0) { if (f == 1) in.read() else if (f == 2) P.readFixed(in, 4); f = P.readVarint(in) }
          lastTotals = Some(readBlock(in))
          packetOrder += "TOTALS"
        case P.ServerExtremes =>
          P.readStr(in)
          var f = P.readVarint(in)
          while (f != 0) { if (f == 1) in.read() else if (f == 2) P.readFixed(in, 4); f = P.readVarint(in) }
          lastExtremes = Some(readBlock(in))
          packetOrder += "EXTREMES"
        case P.ServerProfileInfo =>
          lastProfileRows = P.readVarint(in) // rows
          P.readVarint(in); P.readVarint(in) // blocks, bytes
          in.read(); P.readVarint(in); in.read() // applied_limit, rows_before_limit, calculated
          packetOrder += "PROFILE_INFO"
        case P.ServerException =>
          // full structure: code Int32 + name + message + stack + nested
          P.readFixed(in, 4) // error code
          P.readStr(in) // exception class name
          err = Some(P.readStr(in))
          P.readStr(in) // stack trace
          in.read() // has_nested
        case P.ServerEndOfStream => done = true; packetOrder += "END_OF_STREAM"
        case other => fail(s"unexpected server packet $other")
      }
    }
    (blocks.toSeq, err)
  }

  private var lastProfileRows: Long = -1L

  /** read_rows of the most recent PROGRESS packet. */
  private var lastProgressRows: Long = -1L
  private var lastTotals: Option[Seq[(String, String, Vector[Any])]] = None
  private var lastExtremes: Option[Seq[(String, String, Vector[Any])]] = None
  private val packetOrder = scala.collection.mutable.ArrayBuffer.empty[String]

  private def readBlock(in: BufferedInputStream): Seq[(String, String, Vector[Any])] = {
    val nCols = P.readVarint(in).toInt
    val nRows = P.readVarint(in).toInt
    (0 until nCols).map { _ =>
      val name = P.readStr(in)
      val tpe = P.readStr(in)
      in.read() // custom serialization flag (revision >= 54454)
      val (base, nullable) =
        if (tpe.startsWith("Nullable(")) (tpe.stripPrefix("Nullable(").stripSuffix(")"), true)
        else (tpe, false)
      val nulls = if (nullable) Array.fill(nRows)(in.read() == 1) else Array.fill(nRows)(false)
      val vals = (0 until nRows).map { r =>
        val v = base match {
          case "UInt8" | "Int8" | "Bool" => in.read()
          case "UInt16" | "Int16" => P.readFixed(in, 2).getShort
          case "Int32" | "UInt32" => P.readFixed(in, 4).getInt
          case "Int64" | "UInt64" => P.readFixed(in, 8).getLong
          case "Float64" => P.readFixed(in, 8).getDouble
          case "String" => P.readStr(in)
          case t if t.startsWith("Decimal") =>
            val Array(p, s) = t.stripPrefix("Decimal(").stripSuffix(")")
              .split(",").map(_.trim.toInt)
            val w = if (p == 20 && s == 0) 8 else if (p <= 9) 4 else if (p <= 18) 8 else 16
            val bb = P.readFixed(in, w)
            BigDecimal(BigInt(if (w == 4) bb.getInt.toLong else bb.getLong), s)
          case t => fail(s"test client can't read type $t")
        }
        if (nulls(r)) null else v
      }.toVector
      (name, tpe, vals)
    }
  }

  test("handshake: server HELLO with version and revision (test_suite.py:181-220)") {
    val (sock, in, out) = connect()
    try {
      hello(out)
      val (name, major, minor, revision) = readServerHello(in)
      assert(name === "graft" && major === 25 && minor === 5 && revision === 54468)
    } finally sock.close()
  }

  test("SELECT over native: DATA block then END_OF_STREAM (test_suite.py:241-292)") {
    val (sock, in, out) = connect()
    try {
      hello(out); readServerHello(in)
      sendQuery(out, "SELECT number, toString(number) AS s FROM numbers(3) ORDER BY number")
      val (blocks, err) = readResponse(in)
      assert(err.isEmpty, err)
      val cols = blocks.head
      assert(cols.map(_._1) === Seq("number", "s"))
      assert(cols(0)._3 === Vector(0L, 1L, 2L))
      assert(cols(1)._3 === Vector("0", "1", "2"))
      // a PROGRESS packet precedes the data (read by readResponse)
      assert(lastProgressRows === 3L)
      // PROFILE_INFO (type 6) closes the result with the row count
      assert(lastProfileRows === 3L)
    } finally sock.close()
  }

  test("edge-case literal matrix (test_suite.py:353-365)") {
    val (sock, in, out) = connect()
    try {
      hello(out); readServerHello(in)
      val cases: Seq[(String, Any)] = Seq(
        ("SELECT ''", ""), ("SELECT 'hello world'", "hello world"),
        ("SELECT 0", 0), ("SELECT 255", 255),
        ("SELECT 65535", 65535), ("SELECT 4294967295", 4294967295L))
      cases.foreach { case (q, expected) =>
        sendQuery(out, q)
        val (blocks, err) = readResponse(in)
        assert(err.isEmpty, s"$q -> $err")
        assert(blocks.head.head._3.head === expected, q)
      }
    } finally sock.close()
  }

  test("PING -> PONG (test_suite.py ping flow)") {
    val (sock, in, out) = connect()
    try {
      hello(out); readServerHello(in)
      P.writeVarint(out, P.ClientPing); out.flush()
      assert(P.readVarint(in) === P.ServerPong)
    } finally sock.close()
  }

  test("a QUERY packet cut short by the client closes the connection, with no EXCEPTION") {
    val (sock, in, out) = connect()
    try {
      hello(out); readServerHello(in)
      P.writeVarint(out, P.ClientQuery)
      P.writeStr(out, "truncated-query")
      out.write(0) // no client info; settings, stage and text never come
      out.flush()
      sock.shutdownOutput()
      // generous, so a late answer (after a cold catalog restore) is
      // still seen
      sock.setSoTimeout(60000)
      val got = try in.read() catch {
        case _: java.net.SocketException => -1 // RST also proves close
      }
      assert(got === -1, s"server answered a truncated QUERY with packet $got")
    } finally sock.close()
  }

  test("bad query -> EXCEPTION packet (main.py:664-667)") {
    val (sock, in, out) = connect()
    try {
      hello(out); readServerHello(in)
      sendQuery(out, "SELECT nope_col FROM lineitem")
      val (blocks, err) = readResponse(in)
      assert(blocks.isEmpty && err.isDefined && err.get.nonEmpty)
    } finally sock.close()
  }

  test("large results stream as multiple bounded DATA blocks") {
    val (sock, in, out) = connect()
    try {
      hello(out); readServerHello(in)
      sendQuery(out, "SELECT number FROM numbers(35) ORDER BY number")
      val (blocks, err) = readResponse(in)
      assert(err.isEmpty)
      assert(blocks.length === 4) // 10+10+10+5 at blockRows=10
      val all = blocks.flatMap(_.head._3)
      assert(all === (0L until 35L).toVector)
    } finally sock.close()
  }

  test("zlib-compressed query text (compression mode 1, main.py:782-804)") {
    val (sock, in, out) = connect()
    try {
      hello(out); readServerHello(in)
      // same as sendQuery but with compression=1 and deflated text
      P.writeVarint(out, P.ClientQuery)
      P.writeStr(out, "qid")
      out.write(1)
      P.writeStr(out, "default"); P.writeStr(out, ""); P.writeStr(out, "0.0.0.0:0")
      P.writeFixed(out, 8)(_.putLong(0L))
      out.write(1)
      P.writeStr(out, "t"); P.writeStr(out, "h"); P.writeStr(out, "c")
      P.writeVarint(out, 25); P.writeVarint(out, 5); P.writeVarint(out, ClientRevision)
      P.writeStr(out, ""); P.writeVarint(out, 0)
      P.writeVarint(out, 2); out.write(0) // version patch; no OTel
      P.writeVarint(out, 0); P.writeVarint(out, 0); P.writeVarint(out, 0) // parallel replicas
      P.writeStr(out, ""); P.writeStr(out, "")
      P.writeVarint(out, 2)
      P.writeVarint(out, 1) // zlib
      val deflater = new java.util.zip.Deflater()
      val raw = "SELECT 41 + 1 AS answer".getBytes("UTF-8")
      deflater.setInput(raw); deflater.finish()
      val buf = new Array[Byte](1024)
      val n = deflater.deflate(buf)
      P.writeVarint(out, n); out.write(buf, 0, n)
      P.writeStr(out, "")
      out.flush()
      val (blocks, err) = readResponse(in)
      assert(err.isEmpty, err)
      assert(blocks.head.head._3 === Vector(42))
    } finally sock.close()
  }

  test("per-credential isolation over native (main.py:140-173)") {
    def as(user: String): (Socket, BufferedInputStream, BufferedOutputStream) = {
      val (sock, in, out) = connect()
      P.writeVarint(out, P.ClientHello)
      P.writeStr(out, "c"); P.writeVarint(out, 25); P.writeVarint(out, 5)
      P.writeVarint(out, ClientRevision)
      P.writeStr(out, "default"); P.writeStr(out, user); P.writeStr(out, "pw")
      P.writeStr(out, "") // addendum quota key (rev >= 54458)
      out.flush(); readServerHello(in)
      (sock, in, out)
    }
    val (s1, i1, o1) = as("carol")
    val (s2, i2, o2) = as("dave")
    try {
      for ((i, o) <- Seq((i1, o1), (i2, o2))) {
        sendQuery(o, "DROP TABLE IF EXISTS niso"); readResponse(i)
        sendQuery(o, "CREATE TABLE niso (v String) ENGINE=Memory"); readResponse(i)
      }
      sendQuery(o1, "INSERT INTO niso VALUES ('carol-data')"); readResponse(i1)
      sendQuery(o2, "INSERT INTO niso VALUES ('dave-data')"); readResponse(i2)
      sendQuery(o1, "SELECT v FROM niso")
      val (b1, _) = readResponse(i1)
      sendQuery(o2, "SELECT v FROM niso")
      val (b2, _) = readResponse(i2)
      assert(b1.head.head._3 === Vector("carol-data"))
      assert(b2.head.head._3 === Vector("dave-data"))
    } finally { s1.close(); s2.close() }
  }

  test("WITH TOTALS: DATA … TOTALS … END_OF_STREAM, totals row = global aggregate (main.py:61)") {
    val (sock, in, out) = connect()
    try {
      hello(out); readServerHello(in)
      lastTotals = None; packetOrder.clear()
      sendQuery(out, "SELECT c_mktsegment, count() AS n FROM customer " +
        "GROUP BY c_mktsegment WITH TOTALS ORDER BY c_mktsegment")
      val (blocks, err) = readResponse(in)
      assert(err.isEmpty, err)
      // byte-level sequence: all DATA blocks, then exactly one TOTALS,
      // then END_OF_STREAM
      val kinds = packetOrder.toSeq
      assert(kinds.takeWhile(_ == "DATA").nonEmpty)
      assert(kinds.dropWhile(_ == "DATA") ===
        Seq("TOTALS", "PROFILE_INFO", "END_OF_STREAM"), kinds)
      val segs = blocks.flatMap(_.head._3)
      val counts = blocks.flatMap(_(1)._3.map(_.asInstanceOf[Long]))
      val tot = lastTotals.get
      assert(tot(1)._1 === "n")
      // totals row aggregates ALL rows: sum of the per-group counts
      assert(tot(1)._3 === Vector(counts.sum))
      // totals key column carries the column default (empty string)
      assert(tot.head._3.head === "" || tot.head._3.head === null)
      assert(segs.distinct.size === segs.size) // main data stays grouped
    } finally sock.close()
  }

  test("extremes=1 setting: EXTREMES packet with min/max rows (main.py:62)") {
    val (sock, in, out) = connect()
    try {
      hello(out); readServerHello(in)
      lastExtremes = None; packetOrder.clear()
      sendQuery(out, "SELECT number FROM numbers(7)",
        settings = Seq("extremes" -> "1"))
      val (blocks, err) = readResponse(in)
      assert(err.isEmpty, err)
      assert(packetOrder.last === "END_OF_STREAM")
      assert(packetOrder.count(_ == "EXTREMES") === 1)
      val ext = lastExtremes.get
      assert(ext.head._3 === Vector(0L, 6L)) // row 0 = min, row 1 = max
      // no extremes packet without the setting
      lastExtremes = None; packetOrder.clear()
      sendQuery(out, "SELECT number FROM numbers(7)")
      readResponse(in)
      assert(lastExtremes.isEmpty)
    } finally sock.close()
  }

  test("negotiated LZ4: compression=1 with PLAIN query text gets LZ4-framed DATA blocks") {
    import graft.formats.ChCompression
    val (sock, in, out) = connect()
    try {
      hello(out); readServerHello(in)
      // like sendQuery but compression=1 and a plain (non-zlib) string —
      // exactly what a real clickhouse-driver with compression on sends
      P.writeVarint(out, P.ClientQuery)
      P.writeStr(out, "qz")
      out.write(1)
      P.writeStr(out, "default"); P.writeStr(out, ""); P.writeStr(out, "0.0.0.0:0")
      P.writeFixed(out, 8)(_.putLong(0L))
      out.write(1)
      P.writeStr(out, "t"); P.writeStr(out, "h"); P.writeStr(out, "c")
      P.writeVarint(out, 25); P.writeVarint(out, 5); P.writeVarint(out, ClientRevision)
      P.writeStr(out, ""); P.writeVarint(out, 0)
      P.writeVarint(out, 2); out.write(0) // version patch; no OTel
      P.writeVarint(out, 0); P.writeVarint(out, 0); P.writeVarint(out, 0) // parallel replicas
      P.writeStr(out, ""); P.writeStr(out, "")
      P.writeVarint(out, 2)
      P.writeVarint(out, 1) // compression ON
      P.writeStr(out, "SELECT number FROM numbers(25) ORDER BY number")
      P.writeStr(out, "")
      out.flush()
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      var done = false
      while (!done) {
        P.readVarint(in) match {
          case P.ServerProgress =>
            P.readVarint(in); P.readVarint(in); P.readVarint(in)
            P.readVarint(in); P.readVarint(in); P.readVarint(in); P.readVarint(in)
          case P.ServerData =>
            P.readStr(in) // table name (plain)
            // body = one LZ4 frame containing BlockInfo + block
            val body = ChCompression.readFrame(in)
            // skip the 8-byte BlockInfo, parse the block
            val bin = new BufferedInputStream(
              new java.io.ByteArrayInputStream(body, 8, body.length - 8))
            val cols = readBlock(bin)
            got ++= cols.head._3.map(_.asInstanceOf[Long])
          case P.ServerProfileInfo =>
            P.readVarint(in); P.readVarint(in); P.readVarint(in)
            in.read(); P.readVarint(in); in.read()
          case P.ServerEndOfStream => done = true
          case other => fail(s"unexpected packet $other")
        }
      }
      assert(got.toVector === (0L until 25L).toVector)
    } finally sock.close()
  }

  test("streaming INSERT: sample block exchange, client DATA blocks bulk-load (bulk-write flow)") {
    import graft.formats.NativeCodec
    val (sock, in, out) = connect()
    try {
      hello(out); readServerHello(in)
      sendQuery(out, "DROP TABLE IF EXISTS nstream"); readResponse(in)
      sendQuery(out, "CREATE TABLE nstream (id Int64, name String) ENGINE=Memory")
      readResponse(in)
      // the INSERT query with no inline data -> server answers with a
      // zero-row sample block describing the table
      sendQuery(out, "INSERT INTO nstream VALUES")
      assert(P.readVarint(in) === P.ServerData)
      P.readStr(in) // table name
      var f = P.readVarint(in)
      while (f != 0) { if (f == 1) in.read() else if (f == 2) P.readFixed(in, 4); f = P.readVarint(in) }
      val sample = readBlock(in)
      assert(sample.map(_._1) === Seq("id", "name"))
      assert(sample.map(_._2.stripPrefix("Nullable(").stripSuffix(")")) ===
        Seq("Int64", "String"))
      assert(sample.forall(_._3.isEmpty))
      // stream two data blocks + the empty terminator
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("name", StringType, nullable = false)))
      def sendBlock(rows: Array[org.apache.spark.sql.Row]): Unit = {
        P.writeVarint(out, P.ClientData)
        P.writeStr(out, "nstream")
        // BlockInfo
        P.writeVarint(out, 1); out.write(0)
        P.writeVarint(out, 2); P.writeFixed(out, 4)(_.putInt(-1))
        P.writeVarint(out, 0)
        out.write(NativeCodec.encode(schema, rows, customSerFlag = true))
        out.flush()
      }
      sendBlock(Array(org.apache.spark.sql.Row(1L, "one"),
        org.apache.spark.sql.Row(2L, "two")))
      sendBlock(Array(org.apache.spark.sql.Row(3L, "three")))
      sendBlock(Array.empty) // terminator
      assert(P.readVarint(in) === P.ServerEndOfStream)
      // the rows landed
      sendQuery(out, "SELECT id, name FROM nstream ORDER BY id")
      val (blocks, err) = readResponse(in)
      assert(err.isEmpty, err)
      assert(blocks.head.head._3 === Vector(1L, 2L, 3L))
      assert(blocks.head(1)._3 === Vector("one", "two", "three"))
    } finally sock.close()
  }

  test("idle client is disconnected by the socket timeout") {
    // reference sets a 30s per-client settimeout (main.py:252); a hung
    // or half-open peer must not pin a pooled thread + fd forever. Spin
    // up a short-timeout server and verify a silent client's connection
    // is actively closed (read returns EOF / reset) within the window.
    val quick = new NativeServer(spark, 0, Some("/root/testdata/sf0.001"),
      idleTimeoutMs = 300)
    quick.start()
    try {
      val sock = new Socket("localhost", quick.boundPort)
      try {
        val in = new BufferedInputStream(sock.getInputStream)
        val out = new BufferedOutputStream(sock.getOutputStream)
        hello(out); readServerHello(in)
        // now go silent: the server-side read should time out and close
        sock.setSoTimeout(5000) // our own read guard, well past 300ms
        val got = try in.read() catch {
          case _: java.net.SocketException => -1 // RST also proves close
        }
        assert(got === -1, "server did not drop the idle connection")
      } finally sock.close()
    } finally quick.stop()
  }

  test("every statement with a result streams it; DDL/DML answer END_OF_STREAM only") {
    val (sock, in, out) = connect()
    try {
      hello(out); readServerHello(in)
      Seq("SHOW TABLES", "DESCRIBE TABLE lineitem", "SHOW CREATE TABLE lineitem",
          "EXISTS TABLE lineitem", "EXPLAIN SELECT 1", "(SELECT 1 AS x)",
          "-- c\nSELECT 1 AS x", "/* c */ SELECT 1 AS x").foreach { q =>
        sendQuery(out, q)
        val (blocks, err) = readResponse(in)
        assert(err.isEmpty, s"$q -> $err")
        assert(blocks.nonEmpty && blocks.head.head._3.nonEmpty, q)
      }
      Seq("CREATE DATABASE IF NOT EXISTS graft_spec",
          "DROP TABLE IF EXISTS graft_spec.nat_ddl",
          "DROP TABLE IF EXISTS graft_spec.nat_ddl2",
          "DROP TABLE IF EXISTS graft_spec.nat_ctas",
          "CREATE TABLE graft_spec.nat_ddl (id Int64, s String) ENGINE=MergeTree() ORDER BY id",
          "INSERT INTO graft_spec.nat_ddl VALUES (1, 'a'), (2, 'b')",
          "ALTER TABLE graft_spec.nat_ddl UPDATE s = 'c' WHERE id = 1",
          "ALTER TABLE graft_spec.nat_ddl DELETE WHERE id = 2",
          "OPTIMIZE TABLE graft_spec.nat_ddl FINAL",
          "RENAME TABLE graft_spec.nat_ddl TO graft_spec.nat_ddl2",
          "CREATE VIEW graft_spec.nat_v AS SELECT id FROM graft_spec.nat_ddl2",
          "CREATE VIEW IF NOT EXISTS graft_spec.nat_v AS SELECT 1 AS id",
          "DROP VIEW graft_spec.nat_v",
          "CREATE TABLE graft_spec.nat_ctas ENGINE=Memory AS SELECT 1 AS x",
          "CREATE TABLE IF NOT EXISTS graft_spec.nat_ctas ENGINE=Memory AS SELECT 1 AS x",
          "DROP TABLE graft_spec.nat_ctas",
          "SET max_threads = 4",
          "USE default",
          "TRUNCATE TABLE graft_spec.nat_ddl2",
          "DROP TABLE graft_spec.nat_ddl2").foreach { q =>
        packetOrder.clear()
        sendQuery(out, q)
        val (_, err) = readResponse(in)
        assert(err.isEmpty, s"$q -> $err")
        assert(packetOrder.toSeq === Seq("END_OF_STREAM"), q)
      }
    } finally sock.close()
  }

  test("multiple queries on one connection; fixture table query") {
    val (sock, in, out) = connect()
    try {
      hello(out); readServerHello(in)
      sendQuery(out, "SELECT count() AS n FROM lineitem")
      val (b1, e1) = readResponse(in)
      assert(e1.isEmpty && b1.head.head._3.head.asInstanceOf[Long] > 0)
      sendQuery(out, "SELECT version() AS v")
      val (b2, e2) = readResponse(in)
      assert(e2.isEmpty && b2.head.head._3 === Vector("25.5.2"))
    } finally sock.close()
  }
}
