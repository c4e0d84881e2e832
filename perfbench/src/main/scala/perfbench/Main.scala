package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import graft.dialect.{ChContext, HitsFixture}
import graft.server.{HttpServer, NativeServer}

/** Command-line options; `run.py` passes them through. */
final case class Args(mode: String, workload: String, seed: Long,
                      seconds: Int, trace: Boolean, work: File, result: File)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("mode"), m.getOrElse("workload", ""), m.getOrElse("seed", "0").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1",
      new File(m("work")).getAbsoluteFile, new File(m("result")).getAbsoluteFile)
  }
}

/** The benchmark's own directories inside its work dir: generated
  * fixture tables and a warehouse no other program of the repository
  * uses (the engine restores every table it finds in its warehouse, so
  * a shared one would let runs read tables another commit wrote). */
final case class Work(root: File) {
  val data = new File(root, "data")
  val warehouse = new File(root, "warehouse")
  val prepared = new File(root, "prepared.json")
  /** Spark's and the JVM's scratch space, emptied before every run. */
  val tmp = new File(root, "tmp")
}

/** The engine as a client reaches it: one session, both servers. */
final class Engine(val spark: SparkSession, val http: HttpServer,
                   val native: NativeServer, val dataDir: String, val warehouse: File) {
  /** Closes both servers; the process then ends with Spark in it. */
  def stop(): Unit = { http.stop(); native.stop() }
}

object Boot {
  /** Rows of the benchmark's `hits` table: prime, like the engine's own
    * fixture sizes, so no average lands on a rounding tie. */
  val HitsRows = 20011

  val cores: Int = Runtime.getRuntime.availableProcessors

  /** The served engine's session settings (as `ServeMain` sets them),
    * on the benchmark's warehouse. */
  def session(work: Work): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", work.warehouse.getPath)
      .config("spark.local.dir", work.tmp.getPath)
      .config("spark.sql.codegen.maxFields", "200")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Boots the engine as a server process does: session, dialect
    * functions and fixture views, the `hits` table, both servers; then
    * waits for the answer to a first query over HTTP. */
  def start(work: Work): Engine = {
    val spark = session(work)
    ChContext.setup(spark, work.data.getPath)
    HitsFixture.ensureScaled(spark, HitsRows)
    val http = new HttpServer(spark, 0, Some(work.data.getPath))
    http.start()
    val native = new NativeServer(spark, 0, Some(work.data.getPath))
    native.start()
    val r = new HttpClient(http.boundPort).query("SELECT 1", "TSV", "perfbench-first")
    require(r.status == 200, s"first query failed: ${r.status} ${r.error}")
    new Engine(spark, http, native, work.data.getPath, work.warehouse)
  }
}

object Main {
  def main(a: Array[String]): Unit = {
    val code =
      try {
        val args = Args.parse(a)
        args.mode match {
          case "prepare" => Prepare.run(args)
          case "run" => Run.run(args)
          case other => throw new IllegalArgumentException(s"unknown mode $other")
        }
        0
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          1
      }
    System.out.flush(); System.err.flush()
    // the HTTP server's worker pool is non-daemon and never shut down,
    // so the JVM would outlive main: end it explicitly
    Runtime.getRuntime.halt(code)
  }
}

/** Builds what every run reads, once per work dir and with the code
  * under test: the fixture tables, the `hits` table, and the check that
  * the benchmark's ClickBench texts answer like the engine's own. */
object Prepare {
  def run(a: Args): Unit = {
    val work = Work(a.work)
    val t0 = System.nanoTime()
    val spark = Boot.session(work)
    Data.write(spark, work.data.getPath)
    ChContext.setup(spark, work.data.getPath)
    HitsFixture.ensureScaled(spark, Boot.HitsRows)
    val buildS = (System.nanoTime() - t0) / 1e9
    val drift = CbTexts.all.flatMap { case (name, text) =>
      val mine = Lib.digest(spark, text, "TSV", s"prep-$name")
      val theirs = Lib.digestOf(graft.SparkEntry.queries(name)(spark, work.data.getPath), "TSV")
      if (mine == theirs) None else Some(name)
    }
    Json.write(a.result, Map(
      "fixture_build_s" -> buildS,
      "hits_rows" -> Boot.HitsRows,
      "drift" -> drift))
    spark.stop()
  }
}
