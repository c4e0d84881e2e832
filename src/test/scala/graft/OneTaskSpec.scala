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
