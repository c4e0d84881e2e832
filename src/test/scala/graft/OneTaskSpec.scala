package graft

import scala.collection.mutable
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import graft.dialect.{Engine, HitsFixture}
import graft.formats.ResultFormatter

/** [[graft.plans.OneTask]] on the ClickBench sweep over a 20,011-row
  * `hits` (about 2 MB of parquet, the size of the HTTP benchmark's
  * table): an admitted statement runs as one job, one stage and one
  * task with no exchange; statements the rule must leave alone keep
  * theirs. */
class OneTaskSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {
  import OneTaskSpec.Counts
  lazy val spark = SparkTestSession.spark
  private val SmallHits = 20011

  override def beforeAll(): Unit = {
    HitsFixture.ensure(spark) // the 299,993-row table, above the bound
    HitsFixture.ensureScaled(spark, SmallHits) // `hits` now names the small one
  }

  override def afterAll(): Unit = HitsFixture.reset(spark)

  private def counted(f: => Unit): Map[String, Counts] = OneTaskSpec.counted(spark)(f)

  private def admitted(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case Repartition(1, false, _) => true
      case _ => false
    }

  private def exchanges(df: DataFrame): Seq[Exchange] =
    collectWithSubqueries(df.queryExecution.executedPlan) { case e: Exchange => e }

  private def cbRun(q: graft.Q): (DataFrame, Counts) = {
    var df: DataFrame = null
    var group = ""
    val c = counted {
      df = q.run(spark, "")
      group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
      ResultFormatter.rowsOf(df).size
    }
    (df, c(group))
  }

  test("every admitted ClickBench statement runs as 1 job, 1 stage, 1 task, no exchange") {
    val runs = graft.queries.ClickBench.cbQs.map(q => (q.name, cbRun(q)))
    val (in, out) = runs.partition { case (_, (df, _)) => admitted(df) }
    // cb23's refetch reads all 134 columns: too wide for one task
    assert(out.map(_._1) === Seq("cb23_star_scan"))
    in.foreach { case (name, (df, c)) =>
      assert(exchanges(df).isEmpty, name)
      assert(c === Counts(1, 1, 1), name)
    }
  }

  test("a root write is looked through: the noop sink runs one task") {
    val qid = s"one-task-${java.util.UUID.randomUUID()}"
    val c = counted {
      Engine.execute(spark, "SELECT COUNT(DISTINCT UserID) AS u FROM hits", "default", Some(qid))
        .write.format("noop").mode("overwrite").save()
    }
    assert(c(s"graft-qid-$qid") === Counts(1, 1, 1))
  }

  test("INSERT … SELECT into an unsorted table runs one task") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_onetask")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_onetask.users")
    Engine.execute(spark, "CREATE TABLE graft_onetask.users (UserID UInt64, c Int64) ENGINE=Memory")
    val qid = s"one-task-${java.util.UUID.randomUUID()}"
    val c = counted {
      Engine.execute(spark, "INSERT INTO graft_onetask.users " +
        "SELECT UserID, count() AS c FROM hits GROUP BY UserID", "default", Some(qid))
    }
    assert(c(s"graft-qid-$qid") === Counts(1, 1, 1))
    assert(spark.table("graft_onetask.users").count() ===
      spark.table("hits").select("UserID").distinct().count())
    Engine.execute(spark, "DROP TABLE graft_onetask.users")
  }

  test("KILL QUERY cancels a one-task statement") {
    // row-dependent, so constant folding cannot precompute it: seconds of work in one task
    val sql = "SELECT sum(arraySum(range(200000 + length(URL)))) AS s FROM hits"
    assert(admitted(Engine.execute(spark, sql)))
    val qid = s"one-task-kill-${java.util.UUID.randomUUID()}"
    val started = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == s"graft-qid-$qid"))
          started.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val victim = pool.submit(() => {
        val df = Engine.execute(spark, sql, "default", Some(qid))
        ResultFormatter.rowsOf(df).size
      })
      assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      Engine.execute(spark, s"KILL QUERY WHERE query_id = '$qid' SYNC").collect()
      val err = intercept[java.util.concurrent.ExecutionException] {
        victim.get(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(err.getCause.getMessage.toLowerCase.contains("cancel"), err.getCause)
    } finally {
      pool.shutdownNow()
      sc.removeSparkListener(l)
    }
  }

  test("statements the rule leaves alone keep their exchanges") {
    def notAdmitted(sql: String): Unit = {
      val df = Engine.execute(spark, sql)
      ResultFormatter.rowsOf(df).size // run it, so the final plan is the one checked
      assert(!admitted(df), sql)
      assert(exchanges(df).nonEmpty, sql)
    }
    // the 299,993-row table is above the bound
    val bigBytes = spark.table(HitsFixture.table).inputFiles
      .map(f => new java.io.File(new java.net.URI(f)).length).sum
    assert(bigBytes > spark.sessionState.conf.filesOpenCostInBytes)
    notAdmitted(s"SELECT COUNT(DISTINCT UserID) AS u FROM ${HitsFixture.table}")
    // a join and a Generate can turn a small input into a large output
    notAdmitted("SELECT count() AS c FROM hits a JOIN hits b ON a.WatchID = b.WatchID")
    notAdmitted("SELECT c, count() AS n FROM " +
      "(SELECT arrayJoin(RefererCategories) AS c FROM hits) GROUP BY c")
    // cb23: the narrow key pass runs as one task, the wide refetch keeps its tasks
    val (df, c) = cbRun(graft.queries.ClickBench.cbQs.find(_.name == "cb23_star_scan").get)
    assert(!admitted(df))
    assert(c.jobs === 2 && c.tasks > 2, c)
  }

  /** One statement through the engine: its rows, its plan and what its
    * job group ran. */
  private def engineRun(sql: String): (Seq[org.apache.spark.sql.Row], DataFrame, Counts) = {
    val qid = s"one-task-${java.util.UUID.randomUUID()}"
    var df: DataFrame = null
    var rows = Seq.empty[org.apache.spark.sql.Row]
    val c = counted {
      df = Engine.execute(spark, sql, "default", Some(qid))
      rows = ResultFormatter.rowsOf(df).toSeq
    }
    (rows, df, c(s"graft-qid-$qid"))
  }

  test("one parquet file of one row group above the byte bound runs as one task") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-rowgroup").toFile
    def footerGroups(path: String): Seq[Int] = {
      val conf = spark.sessionState.newHadoopConf()
      val files = new java.io.File(path).listFiles.filter(_.getName.endsWith(".parquet"))
      files.toSeq.map { f =>
        val st = new org.apache.hadoop.fs.Path(f.toURI).getFileSystem(conf)
          .getFileStatus(new org.apache.hadoop.fs.Path(f.toURI))
        Tables.footer(st, conf).getBlocks.size
      }
    }
    // 64 hex characters per row hardly compress: the file is above 4 MB
    val rows = spark.range(0, 150000, 1, 1)
      .select(col("id"), (col("id") % 13).as("g"), sha2(col("id").cast("string"), 256).as("s"))
    def write(name: String, df: DataFrame, blockSize: Long = 128L << 20): String = {
      val path = s"$dir/$name"
      df.write.option("parquet.block.size", blockSize).parquet(path)
      spark.read.parquet(path).createOrReplaceTempView(name)
      path
    }
    val one = write("rg_one", rows.coalesce(1))
    val two = write("rg_two", rows.coalesce(1), blockSize = 4L << 20)
    val split = write("rg_split", rows.repartition(2))
    try {
      val bytes = new java.io.File(one).listFiles.filter(_.getName.endsWith(".parquet")).map(_.length).sum
      assert(bytes > spark.sessionState.conf.filesOpenCostInBytes, bytes)
      assert(footerGroups(one) === Seq(1))
      val twoGroups = footerGroups(two)
      assert(twoGroups.size === 1 && twoGroups.head >= 2)
      assert(footerGroups(split).size === 2)

      def agg(t: String) = s"SELECT g, count() AS c, sum(id) AS si FROM $t WHERE id % 5 != 0 GROUP BY g ORDER BY g"
      def star(t: String) = s"SELECT * FROM $t WHERE id % 1000 = 7"
      val footers = Tables.footerReads.get
      val (aggRows, aggDf, aggCounts) = engineRun(agg("rg_one"))
      assert(Tables.footerReads.get - footers === 1)
      assert(admitted(aggDf) && exchanges(aggDf).isEmpty)
      assert(aggCounts === Counts(1, 1, 1))
      val (starRows, starDf, starCounts) = engineRun(star("rg_one"))
      assert(admitted(starDf) && starCounts.jobs === 1, starCounts)
      assert(Tables.footerReads.get - footers === 1) // once per file version

      def notAdmitted(sql: String): Seq[org.apache.spark.sql.Row] = {
        val (r, df, _) = engineRun(sql)
        assert(!admitted(df), sql)
        assert(exchanges(df).nonEmpty, sql)
        r
      }
      // two row groups, two files: the splits carry rows of their own
      val twoAgg = notAdmitted(agg("rg_two"))
      notAdmitted(agg("rg_split"))
      // a row group above maxPartitionBytes is more than one task's worth
      val maxSplit = spark.conf.get("spark.sql.files.maxPartitionBytes")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
      try notAdmitted(agg("rg_one"))
      finally spark.conf.set("spark.sql.files.maxPartitionBytes", maxSplit)

      // the one-task answers equal the 2-row-group copy's
      assert(aggRows === twoAgg)
      val (twoStar, _, _) = engineRun(star("rg_two"))
      def digest(r: Seq[org.apache.spark.sql.Row]) = (r.size, r.map(_.hashCode.toLong).sum)
      assert(starRows.size === 150)
      assert(digest(starRows) === digest(twoStar))
    } finally {
      Seq("rg_one", "rg_two", "rg_split").foreach(spark.catalog.dropTempView)
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }
}

object OneTaskSpec {
  /** Jobs, stages and tasks one job group ran. */
  final case class Counts(jobs: Int, stages: Int, tasks: Int)

  /** Runs `f` and counts what each job group started meanwhile. */
  def counted(spark: SparkSession)(f: => Unit): Map[String, Counts] = {
    val sc = spark.sparkContext
    val jobs = mutable.Map.empty[String, Int]
    val stageGroup = mutable.Map.empty[Int, String]
    val tasks = mutable.Map.empty[String, Int]
    def groupOf(p: java.util.Properties) =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        jobs(groupOf(e.properties)) = jobs.getOrElse(groupOf(e.properties), 0) + 1
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
        stageGroup(e.stageInfo.stageId) = groupOf(e.properties)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        val g = stageGroup.getOrElse(e.stageId, "")
        tasks(g) = tasks.getOrElse(g, 0) + 1
      }
    }
    org.apache.spark.graftspec.Bus.drain(sc)
    sc.addSparkListener(l)
    try { f; org.apache.spark.graftspec.Bus.drain(sc) }
    finally sc.removeSparkListener(l)
    l.synchronized {
      jobs.keySet.map { g =>
        g -> Counts(jobs(g), stageGroup.values.count(_ == g), tasks.getOrElse(g, 0))
      }.toMap
    }
  }
}
