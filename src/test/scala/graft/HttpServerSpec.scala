package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import graft.server.HttpServer

/** Protocol-shape tests mirroring the reference's HTTP matrix
  * (/root/reference/test/test_suite.py:109-179). */
class HttpServerSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestSession.spark
  private var server: HttpServer = _
  private var port: Int = _
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    graft.dialect.ChContext.setup(spark, "/root/testdata/sf0.001")
    server = new HttpServer(spark, 0, Some("/root/testdata/sf0.001"))
    server.start()
    port = server.boundPort
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  private def get(pathAndQuery: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(
      URI.create(s"http://localhost:$port$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(body: String, params: String = ""): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/$params"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def enc(q: String) =
    java.net.URLEncoder.encode(q, "UTF-8")

  test("/ping answers Ok (test_suite.py:113-114)") {
    val r = get("/ping")
    assert(r.statusCode() === 200 && r.body() === "Ok\n")
  }

  test("/replicas_status answers Ok. (load-balancer probe)") {
    val r = get("/replicas_status")
    assert(r.statusCode() === 200 && r.body() === "Ok.\n")
  }

  test("GET ?query=SELECT 1 answers '1' (test_suite.py:124-126)") {
    val r = get(s"/?query=${enc("SELECT 1")}")
    assert(r.statusCode() === 200 && r.body() === "1\n")
  }

  test("POST body query works (test_suite.py:128-134)") {
    val r = post("SELECT 1 as num, 'test' as str")
    assert(r.statusCode() === 200 && r.body() === "1\ttest\n")
  }

  test("EXPLAIN PIPELINE over HTTP returns the formatted physical plan") {
    val r = get(s"/?query=${enc("EXPLAIN PIPELINE SELECT count() FROM numbers(10)")}")
    assert(r.statusCode() === 200)
    assert(r.body().contains("HashAggregate"), r.body().take(500))
  }

  test("version()/now() answer (test_suite.py:141-145)") {
    assert(post("SELECT version()").body() === "25.5.2\n")
    assert(post("SELECT now()").statusCode() === 200)
  }

  test("numbers() matrix with mixed types (test_suite.py:320-365)") {
    val r = post("SELECT number, toString(number) AS s, number * 1.5 AS f " +
      "FROM numbers(3) ORDER BY number")
    assert(r.body() === "0\t0\t0.0\n1\t1\t1.5\n2\t2\t3.0\n")
  }

  test("default_format=JSONCompact returns the envelope (test_suite.py:165)") {
    val r = post("SELECT 1 AS x", s"?default_format=JSONCompact")
    assert(r.body().startsWith("""{"meta":[{"name":"x","type":"Int32"}],"data":[[1]]"""))
  }

  test("in-query FORMAT clause overrides default_format (main.py:534-546)") {
    val r = post("SELECT 1 AS x FORMAT JSON", s"?default_format=CSV")
    assert(r.body().contains(""""data":[{"x":1}]"""))
  }

  test("errors return 400 with a message (main.py:863-868)") {
    val r = post("SELECT definitely_not_a_column FROM lineitem")
    assert(r.statusCode() === 400 && r.body().nonEmpty)
  }

  test("unknown FORMAT is a 400 with message, not an empty 200") {
    val r = post("SELECT 1 FORMAT NoSuchFormat")
    assert(r.statusCode() === 400, s"got ${r.statusCode()}: ${r.body()}")
    assert(r.body().toLowerCase.contains("unknown format"), r.body())
  }

  test("INSERT ... FORMAT RowBinary with a binary body bulk-loads") {
    import scala.jdk.CollectionConverters._
    import graft.dialect.Engine
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_http")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_http.rb")
    Engine.execute(spark,
      "CREATE TABLE graft_http.rb (id Int64, s String) ENGINE=Memory")
    // payload = what this server's own SELECT FORMAT RowBinary emits
    val src = spark.table("graft_http.rb").schema
    val df = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(41L, "x"),
      org.apache.spark.sql.Row(42L, "é€") // non-ASCII survives (no UTF-8 decode)
    ).asJava, src)
    val bos = new java.io.ByteArrayOutputStream()
    graft.formats.NativeCodec.writeRowBinary(bos, src,
      df.toLocalIterator().asScala, withNamesAndTypes = false)
    // driver shape: statement in the query param, body is raw payload
    val r = client.send(HttpRequest.newBuilder(URI.create(
      s"http://localhost:$port/?query=${enc("INSERT INTO graft_http.rb FORMAT RowBinary")}"))
      .POST(HttpRequest.BodyPublishers.ofByteArray(bos.toByteArray)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() === 200, r.body())
    val back = post("SELECT id, s FROM graft_http.rb ORDER BY id")
    assert(back.body() === "41\tx\n42\té€\n", back.body())
  }

  test("FORMAT Parquet responds with a readable parquet file") {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/"))
      .POST(HttpRequest.BodyPublishers.ofString(
        "SELECT number AS n, toString(number) AS s FROM numbers(10) FORMAT Parquet"))
      .build(), HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() === 200)
    val f = java.nio.file.Files.createTempFile("graft_http_pq", ".parquet")
    java.nio.file.Files.write(f, r.body())
    val back = spark.read.parquet(f.toString)
    assert(back.columns.toSeq === Seq("n", "s"))
    assert(back.count() === 10)
    assert(back.agg(org.apache.spark.sql.functions.sum("n"))
      .collect().head.getLong(0) === 45L)
    java.nio.file.Files.deleteIfExists(f)
  }

  test("FORMAT ORC responds with a readable orc file; ORC body bulk-loads") {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/"))
      .POST(HttpRequest.BodyPublishers.ofString(
        "SELECT number AS n, toString(number) AS s FROM numbers(10) FORMAT ORC"))
      .build(), HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() === 200)
    val f = java.nio.file.Files.createTempFile("graft_http_orc", ".orc")
    java.nio.file.Files.write(f, r.body())
    val back = spark.read.orc(f.toString)
    assert(back.columns.toSeq === Seq("n", "s"))
    assert(back.agg(org.apache.spark.sql.functions.sum("n"))
      .collect().head.getLong(0) === 45L)
    java.nio.file.Files.deleteIfExists(f)
    // and the same bytes bulk-load back through INSERT ... FORMAT ORC
    import graft.dialect.Engine
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_http")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_http.orc1")
    Engine.execute(spark,
      "CREATE TABLE graft_http.orc1 (n Int64, s String) ENGINE=Memory")
    val ins = client.send(HttpRequest.newBuilder(URI.create(
      s"http://localhost:$port/?query=${enc("INSERT INTO graft_http.orc1 FORMAT ORC")}"))
      .POST(HttpRequest.BodyPublishers.ofByteArray(r.body())).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(ins.statusCode() === 200, ins.body())
    assert(post("SELECT sum(n) FROM graft_http.orc1").body() === "45\n")
  }

  test("FORMAT ArrowStream responds with readable IPC; body bulk-loads") {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/"))
      .POST(HttpRequest.BodyPublishers.ofString(
        "SELECT number AS n, toString(number) AS s FROM numbers(10) FORMAT ArrowStream"))
      .build(), HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() === 200)
    val (names, rows) = graft.formats.ArrowCodec.decode(r.body(), file = false)
    assert(names === Seq("n", "s"))
    assert(rows.map(_.head.asInstanceOf[Number].longValue()).sum === 45L)
    // and the same bytes land back through INSERT ... FORMAT ArrowStream
    import graft.dialect.Engine
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_http")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_http.arr")
    Engine.execute(spark,
      "CREATE TABLE graft_http.arr (n Int64, s String) ENGINE=Memory")
    val ins = client.send(HttpRequest.newBuilder(URI.create(
      s"http://localhost:$port/?query=${enc("INSERT INTO graft_http.arr FORMAT ArrowStream")}"))
      .POST(HttpRequest.BodyPublishers.ofByteArray(r.body())).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(ins.statusCode() === 200, ins.body())
    assert(post("SELECT sum(n) FROM graft_http.arr").body() === "45\n")
  }

  test("INSERT ... FORMAT Parquet with a binary body bulk-loads") {
    import graft.dialect.Engine
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_http")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_http.pq")
    Engine.execute(spark,
      "CREATE TABLE graft_http.pq (id Int64, s String) ENGINE=Memory")
    val tmp = java.nio.file.Files.createTempDirectory("graft_http_pq_in")
    spark.sql("SELECT id * 2 AS id, concat('r', id) AS s FROM range(5)")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
    val r = client.send(HttpRequest.newBuilder(URI.create(
      s"http://localhost:$port/?query=${enc("INSERT INTO graft_http.pq FORMAT Parquet")}"))
      .POST(HttpRequest.BodyPublishers.ofByteArray(
        java.nio.file.Files.readAllBytes(part.toPath))).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() === 200, r.body())
    assert(post("SELECT sum(id) FROM graft_http.pq").body() === "20\n")
    tmp.toFile.listFiles().foreach(_.delete())
    java.nio.file.Files.deleteIfExists(tmp)
  }

  test("queries run against registered fixture tables") {
    val r = post("SELECT count() FROM lineitem")
    assert(r.body().trim.toLong > 0)
  }

  test("concurrent queries on one server answer correctly") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = (1 to 12).map { i =>
      Future(post(s"SELECT $i * 10 AS x").body().trim)
    }
    val results = Await.result(Future.sequence(futures), 120.seconds)
    assert(results === (1 to 12).map(i => (i * 10).toString))
  }

  test("INSERT ... FORMAT TSV with inline payload bulk-loads over HTTP") {
    assert(post("CREATE DATABASE IF NOT EXISTS graft_spec").statusCode() === 200)
    assert(post("DROP TABLE IF EXISTS graft_spec.bulk").statusCode() === 200)
    assert(post("CREATE TABLE graft_spec.bulk (id UInt32, name String) ENGINE=Memory")
      .statusCode() === 200)
    val r = post("INSERT INTO graft_spec.bulk FORMAT TSV\n1\talpha\n2\tbeta\n3\tgamma")
    assert(r.statusCode() === 200, r.body())
    assert(post("SELECT id, name FROM graft_spec.bulk ORDER BY id").body() ===
      "1\talpha\n2\tbeta\n3\tgamma\n")
    // column-list variant with reordering
    val r2 = post("INSERT INTO graft_spec.bulk (name, id) FORMAT CSV\ndelta,4")
    assert(r2.statusCode() === 200, r2.body())
    assert(post("SELECT name FROM graft_spec.bulk WHERE id = 4").body() === "delta\n")
    // the statement in ?query= with the rows as the body
    // (`curl '…?query=INSERT…FORMAT TSV' --data-binary @f.tsv`)
    Seq("TSV" -> "5\tepsilon\n", "CSV" -> "6,zeta\n",
      "JSONEachRow" -> "{\"id\":7,\"name\":\"eta\"}\n").foreach { case (fmt, rows) =>
      val r3 = post(rows, s"?query=${enc(s"INSERT INTO graft_spec.bulk FORMAT $fmt")}")
      assert(r3.statusCode() === 200, s"$fmt: ${r3.body()}")
    }
    assert(post("SELECT name FROM graft_spec.bulk WHERE id >= 5 ORDER BY id").body() ===
      "epsilon\nzeta\neta\n")
  }

  private def postBytes(body: Array[Byte], params: String = ""): HttpResponse[Array[Byte]] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/$params"))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofByteArray())

  private def utf8(b: Array[Byte]) = new String(b, java.nio.charset.StandardCharsets.UTF_8)

  test("format round-trip matrix: every export re-imports the same rows over HTTP") {
    import graft.dialect.Engine
    val cols = "(i Int32, l Int64, f Float64, d Decimal(12, 2), dt Date, ts DateTime, " +
      "s String, ns Nullable(String))"
    post("CREATE DATABASE IF NOT EXISTS graft_http")
    post("DROP TABLE IF EXISTS graft_http.rt_src")
    assert(post(s"CREATE TABLE graft_http.rt_src $cols ENGINE=Memory").statusCode() === 200)
    val ins = post("INSERT INTO graft_http.rt_src VALUES " +
      "(1, -9007199254740993, 0.5, 1234.50, '2024-01-02', '2024-01-02 03:04:05', '\"quoted\"', NULL), " +
      "(2, 42, -1.25, -0.01, '1999-12-31', '1999-12-31 23:59:59', 'a,b', '\"q\"'), " +
      "(3, 0, 1e10, 0, '2000-02-29', '2000-02-29 12:00:00', 'plain', 'x y')")
    assert(ins.statusCode() === 200, ins.body())
    val rows = "SELECT * FROM graft_http.%s ORDER BY i"
    val want = Engine.execute(spark, rows.format("rt_src")).collect().toSeq
    assert(want.length === 3)
    val formats = Seq("TSV", "TabSeparatedWithNames", "TSVWithNamesAndTypes", "CSV",
      "CSVWithNames", "CSVWithNamesAndTypes", "JSONEachRow", "JSONCompactEachRow", "TSKV",
      "Values", "RowBinary", "RowBinaryWithNamesAndTypes", "Native", "Arrow", "ArrowStream",
      "Parquet", "ORC")
    val failures = formats.flatMap { fmt =>
      post("DROP TABLE IF EXISTS graft_http.rt_dst")
      post(s"CREATE TABLE graft_http.rt_dst $cols ENGINE=Memory")
      val out = postBytes(s"${rows.format("rt_src")} FORMAT $fmt".getBytes("UTF-8"))
      assert(out.statusCode() === 200, s"$fmt export: ${utf8(out.body())}")
      val in = postBytes(out.body(),
        s"?query=${enc(s"INSERT INTO graft_http.rt_dst FORMAT $fmt")}")
      if (in.statusCode() != 200) Some(s"$fmt: ${utf8(in.body())}")
      else {
        val got = Engine.execute(spark, rows.format("rt_dst")).collect().toSeq
        if (got == want) None else Some(s"$fmt: $got")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("lineitem's TIMESTAMP_NTZ l_shipdate re-imports from Native, Arrow and RowBinary") {
    import graft.dialect.Engine
    val src = "SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem " +
      "ORDER BY l_orderkey, l_linenumber LIMIT 50"
    assert(Engine.execute(spark, src).schema("l_shipdate").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    val text = "SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS STRING) FROM %s " +
      "ORDER BY l_orderkey, l_linenumber LIMIT 50"
    val want = spark.sql(text.format("lineitem")).collect().toSeq
    post("CREATE DATABASE IF NOT EXISTS graft_http")
    Seq("Native", "Arrow", "RowBinary").foreach { fmt =>
      post("DROP TABLE IF EXISTS graft_http.ntz")
      post("CREATE TABLE graft_http.ntz (l_orderkey Int64, l_linenumber Int32, " +
        "l_shipdate DateTime) ENGINE=Memory")
      val out = postBytes(s"$src FORMAT $fmt".getBytes("UTF-8"))
      assert(out.statusCode() === 200, fmt)
      val in = postBytes(out.body(), s"?query=${enc(s"INSERT INTO graft_http.ntz FORMAT $fmt")}")
      assert(in.statusCode() === 200, s"$fmt: ${utf8(in.body())}")
      assert(spark.sql(text.format("graft_http.ntz")).collect().toSeq === want, fmt)
    }
  }

  test("TIMESTAMP_NTZ renders as DateTime text in TSV and JSONEachRow; TSV re-imports it") {
    val src = "SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem " +
      "ORDER BY l_orderkey, l_linenumber LIMIT 5"
    val tsv = post(s"$src FORMAT TSV")
    assert(tsv.statusCode() === 200, tsv.body())
    // Spark's own NTZ-to-string cast: `yyyy-MM-dd HH:mm:ss` for whole seconds
    val want = spark.sql("SELECT CAST(l_shipdate AS STRING) FROM lineitem " +
      "ORDER BY l_orderkey, l_linenumber LIMIT 5").collect().map(_.getString(0)).toSeq
    assert(want.forall(_.matches("\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}")), want)
    assert(tsv.body().split("\n").map(_.split("\t")(2)).toSeq === want)
    val json = post(s"$src FORMAT JSONEachRow")
    assert(json.statusCode() === 200, json.body())
    assert(json.body().split("\n").map(_.replaceAll(""".*"l_shipdate":"([^"]*)"}""", "$1"))
      .toSeq === want)
    post("CREATE DATABASE IF NOT EXISTS graft_http")
    post("DROP TABLE IF EXISTS graft_http.ntz_tsv")
    post("CREATE TABLE graft_http.ntz_tsv (l_orderkey Int64, l_linenumber Int32, " +
      "l_shipdate DateTime) ENGINE=Memory")
    val in = post(tsv.body(), s"?query=${enc("INSERT INTO graft_http.ntz_tsv FORMAT TSV")}")
    assert(in.statusCode() === 200, in.body())
    assert(post("SELECT * FROM graft_http.ntz_tsv ORDER BY l_orderkey, l_linenumber FORMAT TSV")
      .body() === tsv.body())
  }

  test("binary INSERTs leave a query_log row and an InsertQuery each") {
    import graft.dialect.Engine
    def inserts(): Long = Engine.execute(spark,
      "SELECT value FROM system.events WHERE event = 'InsertQuery'").collect().head.getLong(0)
    def logged(stmt: String): Long = Engine.execute(spark,
      s"SELECT count() FROM system.query_log WHERE query = '$stmt' AND type = 'QueryFinish'")
      .collect().head.getLong(0)
    post("CREATE DATABASE IF NOT EXISTS graft_http")
    for (t <- Seq("trace_src", "trace")) {
      post(s"DROP TABLE IF EXISTS graft_http.$t")
      post(s"CREATE TABLE graft_http.$t (n Int64, s String) ENGINE=Memory")
    }
    post("INSERT INTO graft_http.trace_src VALUES (0, 'a'), (1, 'b'), (2, 'c')")
    val src = "SELECT * FROM graft_http.trace_src"
    Seq("RowBinary", "Native", "Arrow", "Parquet").foreach { fmt =>
      val payload = postBytes(s"$src FORMAT $fmt".getBytes("UTF-8")).body()
      val stmt = s"INSERT INTO graft_http.trace FORMAT $fmt"
      val before = inserts()
      val r = postBytes(payload, s"?query=${enc(stmt)}&query_id=trace-$fmt")
      assert(r.statusCode() === 200, s"$fmt: ${utf8(r.body())}")
      assert(inserts() - before === 1, fmt)
      assert(logged(stmt) === 1, fmt)
    }
    assert(post("SELECT count() FROM graft_http.trace").body() === "12\n")
  }

  test("INTO OUTFILE writes the bytes HTTP sends, in every output format") {
    import graft.dialect.Engine
    import java.nio.file.Files
    val src = "SELECT toInt64(number) AS n, toString(number) AS s, " +
      "toDate('2024-01-02') AS d FROM numbers(4) ORDER BY n"
    // the JSON envelopes carry the elapsed time, the one varying field
    def masked(b: Array[Byte]) = utf8(b).replaceAll("\"elapsed\":[0-9.]+", "")
    val dir = Files.createTempDirectory("graft_outfile_fmt")
    Seq("TSV", "TabSeparatedWithNames", "TSVWithNamesAndTypes", "CSV", "CSVWithNames",
      "CSVWithNamesAndTypes", "JSON", "JSONCompact", "JSONEachRow", "JSONCompactEachRow",
      "TSKV", "Values", "Pretty", "PrettyCompact", "Vertical", "Markdown", "Null", "Native",
      "RowBinary", "RowBinaryWithNamesAndTypes", "Arrow", "ArrowStream", "Parquet", "ORC"
    ).foreach { fmt =>
      val f = dir.resolve(s"out.$fmt")
      Engine.execute(spark, s"$src INTO OUTFILE '$f' FORMAT $fmt")
      val http = postBytes(s"$src FORMAT $fmt".getBytes("UTF-8"))
      assert(http.statusCode() === 200, fmt)
      val file = Files.readAllBytes(f)
      if (fmt.startsWith("JSON")) assert(masked(file) === masked(http.body()), fmt)
      else assert(file.sameElements(http.body()), fmt)
    }
    // an unknown format fails before the file exists, so a retry works
    val g = dir.resolve("retry.out")
    val e = intercept[IllegalArgumentException](
      Engine.execute(spark, s"$src INTO OUTFILE '$g' FORMAT NoSuchFormat"))
    assert(e.getMessage.contains("unknown format"), e.getMessage)
    assert(!Files.exists(g))
    Engine.execute(spark, s"$src INTO OUTFILE '$g' FORMAT Native")
    assert(Files.size(g) > 0)
    // a format with a footer cannot take a second result
    val a = intercept[IllegalArgumentException](
      Engine.execute(spark, s"$src INTO OUTFILE '$g' APPEND FORMAT ORC"))
    assert(a.getMessage.contains("TRUNCATE, not APPEND"), a.getMessage)
    Files.list(dir).forEach(p => Files.delete(p))
    Files.delete(dir)
  }

  test("WITH TOTALS over HTTP: JSON `totals` member and TSV blank-line row") {
    val q = "SELECT c_mktsegment AS seg, count() AS n FROM customer " +
      "GROUP BY c_mktsegment WITH TOTALS ORDER BY c_mktsegment"
    val j = post(s"$q FORMAT JSON")
    assert(j.statusCode() === 200, j.body())
    assert(j.body().contains("\"totals\":{"), j.body().take(500))
    // the totals row carries the all-rows aggregate (customer count)
    val total = post("SELECT count() FROM customer").body().trim
    assert(j.body().contains(s""""totals":{"seg":null,"n":"$total"}""") ||
      j.body().contains(s""""totals":{"seg":"","n":"$total"}"""), j.body().take(800))
    // the totals member sits between data and rows (ClickHouse layout)
    assert(j.body().indexOf("\"totals\"") > j.body().indexOf("\"data\""))
    assert(j.body().indexOf("\"totals\"") < j.body().indexOf("\"rows\""))
    val t = post(q) // TSV default: rows, blank line, totals row
    val lines = t.body().split("\n", -1)
    assert(lines.count(_.isEmpty) >= 1, t.body())
    val blank = lines.indexWhere(_.isEmpty)
    assert(blank > 0 && lines(blank + 1).endsWith("\t" + total), t.body())
  }

  test("/play serves the query UI (main.py:907-917 endpoint)") {
    val r = get("/play")
    assert(r.statusCode() === 200 && r.body().contains("<textarea"))
  }

  test("GET / serves the UI; empty POST is a 400 (main.py:856,892)") {
    val ui = get("/")
    assert(ui.statusCode() === 200 && ui.body().contains("<html"))
    val err = post("")
    assert(err.statusCode() === 400 && err.body().startsWith("Error: no query"))
  }

  test("system.databases / system.tables answer client probes") {
    val dbs = get(s"/?query=${enc("SELECT name FROM system.databases ORDER BY name")}")
    assert(dbs.statusCode() === 200 && dbs.body().contains("system"), dbs.body())
    val one = get(s"/?query=${enc("SELECT dummy FROM system.one")}")
    assert(one.statusCode() === 200 && one.body() === "0\n")
  }

  test("reference CI flow over HTTP: hits DDL + INSERT + count (test.yml:48-56)") {
    import graft.dialect.HitsFixture
    // the reference CI drives these statements through curl; same wire
    post("CREATE DATABASE IF NOT EXISTS clickbench")
    post("DROP TABLE IF EXISTS clickbench.hits_http")
    val mk = post(HitsFixture.ddl
      .replace("clickbench.hits", "clickbench.hits_http"))
    assert(mk.statusCode() === 200, mk.body())
    val ins = post(HitsFixture.insertSql
      .replace("clickbench.hits", "clickbench.hits_http")
      .replace(HitsFixture.N.toString, "1000")) // small slice over HTTP
    assert(ins.statusCode() === 200, ins.body())
    val n = post("SELECT count() FROM clickbench.hits_http")
    assert(n.statusCode() === 200 && n.body() === "1000\n", n.body())
    val lim = post("SELECT WatchID FROM clickbench.hits_http LIMIT 1")
    assert(lim.statusCode() === 200 && lim.body().trim.nonEmpty)
    post("DROP TABLE IF EXISTS clickbench.hits_http")
  }

  test("Accept-Encoding: gzip compresses the streamed response") {
    val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:$port/?query=${enc(
          "SELECT number FROM numbers(1000)")}"))
      .header("Accept-Encoding", "gzip").GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() === 200)
    assert(r.headers().firstValue("Content-Encoding").orElse("") === "gzip")
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(r.body()))
    val text = new String(in.readAllBytes(), "UTF-8")
    assert(text.linesIterator.size === 1000)
    assert(text.startsWith("0\n1\n"))
    // without the header the body is plain
    val plain = get(s"/?query=${enc("SELECT 1")}")
    assert(plain.body() === "1\n")
  }

  test("system.columns / system.functions answer completion probes") {
    val cols = get(s"/?query=${enc(
      "SELECT name, type FROM system.columns WHERE table = 'nation' ORDER BY position")}")
    assert(cols.statusCode() === 200, cols.body())
    assert(cols.body().contains("n_nationkey"), cols.body())
    val fns = get(s"/?query=${enc(
      "SELECT name FROM system.functions WHERE is_aggregate = 1 ORDER BY name")}")
    assert(fns.statusCode() === 200, fns.body())
    assert(fns.body().contains("uniq"), fns.body())
    val scalar = get(s"/?query=${enc(
      "SELECT name FROM system.functions WHERE is_aggregate = 0")}")
    assert(scalar.body().contains("toYYYYMM"), scalar.body().take(500))
  }

  test("database= param is request-scoped, not sticky (main.py:860-861)") {
    get(s"/?query=${enc("CREATE DATABASE IF NOT EXISTS dbscope")}")
    // the catalog is durable since round 12: a tscope from a previous
    // JVM would survive with its rows — start from a clean slate
    get(s"/?query=${enc("DROP TABLE IF EXISTS dbscope.tscope")}")
    get(s"/?query=${enc("CREATE TABLE dbscope.tscope (id Int64) ENGINE=Memory")}")
    get(s"/?query=${enc("INSERT INTO dbscope.tscope SELECT 7")}")
    // unqualified name resolves inside database=dbscope
    val scoped = get(s"/?query=${enc("SELECT id FROM tscope")}&database=dbscope")
    assert(scoped.statusCode() === 200 && scoped.body() === "7\n")
    // a later request WITHOUT the param must not inherit dbscope:
    // unqualified tscope should fail, and fixture views still resolve
    val after = get(s"/?query=${enc("SELECT id FROM tscope")}")
    assert(after.statusCode() === 400)
    val fixture = get(s"/?query=${enc("SELECT count() FROM nation")}")
    assert(fixture.statusCode() === 200 && fixture.body() === "25\n")
  }

  test("database= requests and ended user sessions leave no fixture relations memoized") {
    val sql = enc("SELECT n_name, count() FROM nation GROUP BY n_name ORDER BY n_name")
    val base = get(s"/?query=$sql")
    assert(base.statusCode() === 200 && base.body().count(_ == '\n') === 25)
    val (before, footers) = (Tables.memoSize, Tables.footerReads.get)
    (1 to 50).foreach { _ =>
      val r = get(s"/?query=$sql&database=default")
      assert(r.statusCode() === 200 && r.body() === base.body())
    }
    // the base session's fixture views are shared, not re-read
    assert(Tables.footerReads.get === footers)
    assert(Tables.memoSize === before)
    import graft.server.UserSessions
    // a per-user session over the fixture the suite's views came from
    UserSessions.forKey(spark, "memo:pw", Some(spark.conf.get("graft.views.dir")))
    assert(Tables.memoSize > before)
    UserSessions.purgeAll()
    assert(Tables.memoSize <= before)
  }

  test("per-credential sessions isolate unqualified tables (main.py:140-173)") {
    def postAs(userPass: String, body: String): HttpResponse[String] = {
      val token = java.util.Base64.getEncoder.encodeToString(userPass.getBytes)
      client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/"))
        .header("Authorization", s"Basic $token")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    }
    for (u <- Seq("alice:pw", "bob:pw")) {
      assert(postAs(u, "DROP TABLE IF EXISTS iso").statusCode() === 200)
      assert(postAs(u, "CREATE TABLE iso (v String) ENGINE=Memory").statusCode() === 200)
    }
    assert(postAs("alice:pw", "INSERT INTO iso VALUES ('from-alice')").statusCode() === 200)
    assert(postAs("bob:pw", "INSERT INTO iso VALUES ('from-bob')").statusCode() === 200)
    assert(postAs("alice:pw", "SELECT v FROM iso").body() === "from-alice\n")
    assert(postAs("bob:pw", "SELECT v FROM iso").body() === "from-bob\n")
    // both can still read the shared fixture views
    assert(postAs("alice:pw", "SELECT count() FROM nation").body().trim.toLong > 0)
  }

  test("Basic-auth default user shares the root session; mechanisms agree") {
    def postAs(userPass: String, body: String): HttpResponse[String] = {
      val token = java.util.Base64.getEncoder.encodeToString(userPass.getBytes)
      client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/"))
        .header("Authorization", s"Basic $token")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    }
    // anonymous (root session) creates a table ...
    assert(post("DROP TABLE IF EXISTS defshare").statusCode() === 200)
    assert(post("CREATE TABLE defshare (v Int64) ENGINE=Memory").statusCode() === 200)
    assert(post("INSERT INTO defshare VALUES (41)").statusCode() === 200)
    // ... Basic-auth default must see it (same shared session, like
    // ?user=default — the two mechanisms may not diverge)
    assert(postAs("default:", "SELECT v FROM defshare").body() === "41\n")
    val viaParam = post("SELECT v FROM defshare", "?user=default")
    assert(viaParam.statusCode() === 200 && viaParam.body() === "41\n")
    // a non-default Basic user must NOT see it (isolation intact)
    assert(postAs("carol2:pw", "SELECT v FROM defshare").statusCode() === 400)
  }

  test("a Basic-auth request's query_log row carries the Basic user") {
    val stmt = "SELECT 4242 AS basic_user_probe"
    val token = java.util.Base64.getEncoder.encodeToString("erin:pw".getBytes)
    val r = client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/"))
      .header("Authorization", s"Basic $token")
      .POST(HttpRequest.BodyPublishers.ofString(stmt)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() === 200 && r.body() === "4242\n", r.body())
    val users = post(s"SELECT DISTINCT user FROM system.query_log WHERE query = '$stmt'")
    assert(users.body() === "erin\n")
  }

  test("shutdown purge removes per-credential scratch warehouses (main.py:934-952)") {
    import graft.server.UserSessions
    val s = UserSessions.forKey(spark, "carol:pw", None)
    graft.dialect.Engine.execute(s, "DROP TABLE IF EXISTS scratch")
    graft.dialect.Engine.execute(s,
      "CREATE TABLE scratch (v String) ENGINE=Memory")
    graft.dialect.Engine.execute(s, "INSERT INTO scratch VALUES ('x')")
    val db = s.catalog.currentDatabase
    assert(db.startsWith("graft_user_"))
    val loc = java.nio.file.Paths.get(new java.net.URI(
      s.sessionState.catalog.getDatabaseMetadata(db).locationUri.toString))
    assert(java.nio.file.Files.exists(loc), s"warehouse dir missing: $loc")
    UserSessions.purgeAll()
    assert(!java.nio.file.Files.exists(loc), s"scratch dir survived: $loc")
    assert(!spark.catalog.databaseExists(db))
    // purge is idempotent and the server keeps serving new sessions
    UserSessions.purgeAll()
    val s2 = UserSessions.forKey(spark, "carol:pw", None)
    assert(s2.catalog.currentDatabase === db)
  }

  test("stop() ends the worker pool: no worker thread outlives the server") {
    import scala.jdk.CollectionConverters._
    def workers = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName == "graft-http-worker").toSet
    val before = workers
    val s = new HttpServer(spark, 0)
    s.start()
    val r = client.send(HttpRequest.newBuilder(
      URI.create(s"http://localhost:${s.boundPort}/?query=${enc("SELECT 1")}")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() === 200 && r.body() === "1\n")
    assert((workers -- before).nonEmpty)
    s.stop()
    assert((workers -- before).isEmpty)
  }
}
