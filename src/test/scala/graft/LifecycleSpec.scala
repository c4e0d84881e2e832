package graft

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.{Socket, URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, ExecutionException, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkException
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.dialect.{Engine, HitsFixture}
import graft.formats.{NativeCodec, ResultFormatter}
import graft.server.{HttpServer, NativeServer, NativeServer => P}

/** The one query lifecycle (`Engine.run`): KILL QUERY and the deadline
  * reach every job of a statement, a finished statement leaves no
  * timer behind, and both wires hand their settings and database to
  * it. Small fixed thread and connection counts. */
class LifecycleSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestSession.spark
  private var http: HttpServer = _
  private var native: NativeServer = _
  private val client = HttpClient.newHttpClient()
  private val pool = Executors.newFixedThreadPool(2)

  override def beforeAll(): Unit = {
    HitsFixture.ensure(spark)
    http = new HttpServer(spark, 0)
    http.start()
    native = new NativeServer(spark, 0)
    native.start()
  }

  override def afterAll(): Unit = {
    pool.shutdownNow()
    if (http != null) http.stop()
    if (native != null) native.stop()
  }

  private def fresh(name: String) = s"life-$name-${java.util.UUID.randomUUID()}"

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The jobs of query `qid`: (start time, succeeded) per job.
    * `started` opens at the first job of any group: the test's victim
    * is the only statement running. */
  private final class Jobs(qid: String) extends SparkListener {
    val started = new CountDownLatch(1)
    private val ends = new ConcurrentLinkedQueue[(Int, Boolean)]()
    private val starts = new ConcurrentLinkedQueue[(Int, Long)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.countDown()
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == s"graft-qid-$qid"))
        starts.add((e.jobId, System.nanoTime()))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.add((e.jobId, e.jobResult == JobSucceeded))
    /** Whether each job started after `t` succeeded. */
    def after(t: Long): Seq[Boolean] = {
      org.apache.spark.graftspec.Bus.drain(spark.sparkContext)
      val ok = ends.asScala.toMap
      starts.asScala.toSeq.filter(_._2 > t).map(s => ok.getOrElse(s._1, false))
    }
  }

  private def watching[T](qid: String)(f: Jobs => T): T = {
    val jobs = new Jobs(qid)
    spark.sparkContext.addSparkListener(jobs)
    try f(jobs) finally spark.sparkContext.removeSparkListener(jobs)
  }

  /** Runs `f` on its own thread, as a second connection would: a
    * statement on the victim's thread would retire the victim first. */
  private def onThread[T](f: => T): T = pool.submit(() => f).get(60, TimeUnit.SECONDS)

  private def kill(qid: String): Unit = assert(onThread(Engine.execute(spark,
    s"KILL QUERY WHERE query_id = '$qid' SYNC").collect()).map(_.getString(1)).toSeq === Seq(qid))

  test("KILL QUERY stops a statement that carries max_execution_time") {
    val qid = fresh("deadline")
    watching(qid) { jobs =>
      // seconds of work per row group, far past the test's bounds
      val victim = pool.submit(() => ResultFormatter.rowsOf(Engine.execute(spark,
        "SELECT sum(arraySum(range(200000 + length(URL)))) AS s FROM hits " +
          "SETTINGS max_execution_time = 600", "default", Some(qid))).size)
      try {
        assert(jobs.started.await(60, TimeUnit.SECONDS))
        Thread.sleep(1000)
        val t0 = System.nanoTime()
        kill(qid)
        val e = intercept[ExecutionException](victim.get(5, TimeUnit.SECONDS))
        assert(secondsSince(t0) < 5)
        assert(e.getCause.getMessage.toLowerCase.contains("cancel"), e.getCause)
      } finally spark.sparkContext.cancelAllJobs()
    }
  }

  test("KILL QUERY between two jobs fails every job the statement starts later") {
    val qid = fresh("between-jobs")
    watching(qid) { jobs =>
      // one job per partition as the rows stream, about a second each
      val rows = ResultFormatter.rowsOf(Engine.execute(spark,
        "SELECT arraySum(range(300000 + number % 2)) AS s FROM numbers(4000)",
        "default", Some(qid)))
      rows.next() // the first partition's job has ended
      val killedAt = System.nanoTime()
      kill(qid)
      val e = intercept[SparkException](rows.foreach(_ => ()))
      assert(secondsSince(killedAt) < 5)
      assert(e.getMessage.toLowerCase.contains("cancel"), e)
      val later = jobs.after(killedAt)
      assert(later.nonEmpty && !later.contains(true), later)
    }
    // the id is free again: a new statement reusing it runs
    assert(Engine.execute(spark, "SELECT number FROM numbers(3)", "default", Some(qid))
      .collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
  }

  test("a statement that reuses a killed query's id runs and returns its rows") {
    val qid = fresh("reuse")
    Engine.execute(spark, "SELECT number FROM numbers(5)", "default", Some(qid))
    kill(qid)
    assert(onThread(Engine.execute(spark, "SELECT number FROM numbers(5)", "default", Some(qid))
      .collect().length) === 5)
  }

  private def get(sql: String, params: String = ""): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(
      s"http://localhost:${http.boundPort}/?query=${URLEncoder.encode(sql, UTF_8)}" +
        (if (params.isEmpty) "" else s"&$params")))
      .timeout(java.time.Duration.ofSeconds(60)).build(), HttpResponse.BodyHandlers.ofString())

  test("finished statements leave no deadline timer pending") {
    val before = Engine.pendingDeadlines
    (1 to 20).foreach { i =>
      val r = get(s"SELECT $i AS x SETTINGS max_execution_time = 600")
      assert(r.statusCode() === 200 && r.body() === s"$i\n", r.body())
    }
    assert(Engine.pendingDeadlines === before)
  }

  private val heavy = "SELECT count() FROM numbers(800000000000)"

  test("HTTP URL parameters are settings: max_execution_time, max_result_rows, extremes") {
    val tag = s"deadline_${System.nanoTime()}"
    val t0 = System.nanoTime()
    get(s"SELECT count() AS $tag FROM numbers(800000000000)", "max_execution_time=1")
    assert(secondsSince(t0) < 30)
    assert(Engine.execute(spark, "SELECT type FROM system.query_log " +
      s"WHERE query LIKE '%$tag%'").collect().map(_.getString(0)).toSeq ===
      Seq("ExceptionWhileProcessing"))
    assert(get("SELECT number FROM numbers(100)", "max_result_rows=5&result_overflow_mode=break")
      .body() === "0\n1\n2\n3\n4\n")
    // the statement's SETTINGS clause overrides the URL
    assert(get("SELECT number FROM numbers(100) SETTINGS max_result_rows = 2",
      "max_result_rows=5&result_overflow_mode=break").body() === "0\n1\n")
    val ext = "SELECT number AS n, toString(number) AS s FROM numbers(7)"
    assert(get(ext, "extremes=1").body() ===
      (0 to 6).map(i => s"$i\t$i\n").mkString + "\n0\t\\N\n6\t\\N\n")
    assert(get(ext + " FORMAT JSONCompact", "extremes=1").body()
      .contains(""","extremes":{"min":["0",null],"max":["6",null]},"rows":7"""))
    // formats with no slot for them ignore the extremes
    assert(get(ext + " FORMAT CSV", "extremes=1").body().count(_ == '\n') === 7)
  }

  test("WITH TOTALS and extremes share the TSV layout") {
    val body = get("SELECT number % 2 AS k, count() AS c FROM numbers(10) " +
      "GROUP BY k WITH TOTALS ORDER BY k", "extremes=1").body()
    assert(body === "0\t5\n1\t5\n\n\\N\t10\n\n0\t5\n1\t5\n", body)
  }

  /** A raw native connection: HELLO at the server's revision. */
  private final class Native(database: String) extends AutoCloseable {
    private val sock = new Socket("localhost", native.boundPort)
    sock.setSoTimeout(60000)
    private val in = new BufferedInputStream(sock.getInputStream)
    private val out = new BufferedOutputStream(sock.getOutputStream)
    P.writeVarint(out, P.ClientHello)
    P.writeStr(out, "lifecycle-spec")
    P.writeVarint(out, 25); P.writeVarint(out, 5); P.writeVarint(out, P.Revision)
    P.writeStr(out, database); P.writeStr(out, "default"); P.writeStr(out, "")
    P.writeStr(out, "") // quota key
    out.flush()
    assert(P.readVarint(in) === P.ServerHello)
    P.readStr(in); P.readVarint(in); P.readVarint(in); P.readVarint(in)
    P.readStr(in); P.readStr(in); P.readVarint(in); P.readVarint(in); P.readFixed(in, 8)

    /** (data rows, extremes rows, exception message). */
    def query(sql: String, settings: (String, String)*)
        : (Seq[Seq[Any]], Seq[Seq[Any]], Option[String]) = {
      P.writeVarint(out, P.ClientQuery)
      P.writeStr(out, "")
      out.write(0) // no client info
      settings.foreach { case (k, v) => P.writeStr(out, k); out.write(0); P.writeStr(out, v) }
      P.writeStr(out, "") // end of settings
      P.writeStr(out, "") // inter-server secret
      P.writeVarint(out, 2); P.writeVarint(out, 0) // stage complete, no compression
      P.writeStr(out, sql)
      P.writeStr(out, "") // end of parameters
      P.writeVarint(out, P.ClientData); P.writeStr(out, "") // external-tables terminator
      out.write(P.BlockInfoBytes); P.writeVarint(out, 0); P.writeVarint(out, 0)
      out.flush()
      var (rows, extremes, error) = (Seq.empty[Seq[Any]], Seq.empty[Seq[Any]], Option.empty[String])
      def block(): Seq[Seq[Any]] = {
        P.readStr(in); P.readFixed(in, P.BlockInfoBytes.length)
        NativeCodec.rowsOf(NativeCodec.decode(in, true))
      }
      var done = false
      while (!done) P.readVarint(in) match {
        case P.ServerData => rows ++= block()
        case P.ServerTotals => block()
        case P.ServerExtremes => extremes = block()
        case P.ServerProgress => (1 to 7).foreach(_ => P.readVarint(in))
        case P.ServerProfileInfo =>
          P.readVarint(in); P.readVarint(in); P.readVarint(in)
          P.readByte(in); P.readVarint(in); P.readByte(in)
        case P.ServerException =>
          P.readFixed(in, 4); P.readStr(in)
          error = Some(P.readStr(in))
          P.readStr(in); P.readByte(in)
        case P.ServerEndOfStream => done = true
        case other => fail(s"unexpected packet $other")
      }
      (rows, extremes, error)
    }

    def close(): Unit = sock.close()
  }

  private def nativeConn[T](database: String = "default")(f: Native => T): T = {
    val c = new Native(database)
    try f(c) finally c.close()
  }

  test("native QUERY-packet settings: max_execution_time, max_result_rows, extremes") {
    nativeConn() { c =>
      val t0 = System.nanoTime()
      val (_, _, err) = c.query(heavy, "max_execution_time" -> "1")
      assert(err.exists(_.toLowerCase.contains("cancel")), err)
      assert(secondsSince(t0) < 30)
      val (rows, _, _) = c.query("SELECT number FROM numbers(100)",
        "max_result_rows" -> "5", "result_overflow_mode" -> "break")
      assert(rows.map(_.head) === Seq(0L, 1L, 2L, 3L, 4L))
      val (_, ext, _) = c.query("SELECT number FROM numbers(7)", "extremes" -> "1")
      assert(ext.map(_.head) === Seq(0L, 6L))
    }
  }

  test("native HELLO's database is the connection's current database") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.life_hello")
    Engine.execute(spark, "CREATE TABLE graft_spec.life_hello (v Int64) ENGINE=Memory")
    Engine.execute(spark, "INSERT INTO graft_spec.life_hello VALUES (42)")
    nativeConn("graft_spec") { c =>
      assert(c.query("SELECT v FROM life_hello") === ((Seq(Seq(42L)), Nil, None)))
    }
    nativeConn() { c => assert(c.query("SELECT v FROM life_hello")._3.isDefined) }
  }

  test("query_log duration of an HTTP SELECT covers streaming its answer") {
    val tag = s"streamed_${System.nanoTime()}"
    // about 30 MB of TSV: far more than the socket buffers hold, so the
    // server writes its last byte only after the client reads on
    val sql = URLEncoder.encode(s"SELECT repeat('x', 1000) AS $tag FROM numbers(30000)", UTF_8)
    val sock = new Socket("localhost", http.boundPort)
    try {
      sock.getOutputStream.write(
        s"GET /?query=$sql HTTP/1.1\r\nHost: localhost\r\nConnection: close\r\n\r\n".getBytes(UTF_8))
      sock.getOutputStream.flush()
      val in = sock.getInputStream
      val buf = new Array[Byte](1 << 16)
      var total = 0L
      while (total < (1 << 20)) total += in.read(buf)
      Thread.sleep(300)
      var n = 0
      while ({ n = in.read(buf); n >= 0 }) total += n
      assert(total > 30000L * 1000)
    } finally sock.close()
    val ms = Engine.execute(spark, "SELECT query_duration_ms FROM system.query_log " +
      s"WHERE query LIKE '%$tag%' AND type = 'QueryFinish'").collect().map(_.getLong(0))
    assert(ms.length === 1 && ms.head >= 300, ms.toSeq)
  }
}
