package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.types._
import graft.dialect.{ChContext, ChFunctions, Engine}

/** Catalog metadata is answered on the driver: a cold `ChContext.setup`
  * and the `system.*` catalog probes run no Spark job, fixture schemas
  * come from parquet footers, and `ORDER BY` over driver-side rows sorts
  * there ([[graft.plans.LocalSort]]). */
class CatalogMetadataSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val testdata = "/root/testdata" // fixture root, see TESTDATA.md

  /** Job groups of the jobs `f` starts (every job it runs on this
    * thread carries the group its caller set). */
  private def jobGroups(f: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    org.apache.spark.graftspec.Bus.drain(sc)
    sc.addSparkListener(l)
    try { f; org.apache.spark.graftspec.Bus.drain(sc) }
    finally sc.removeSparkListener(l)
    scala.jdk.CollectionConverters.IterableHasAsScala(seen).asScala.toSeq
  }

  test("ChContext.setup on a fresh session runs no Spark job") {
    val fresh = spark.newSession()
    val group = s"setup-${java.util.UUID.randomUUID()}"
    val groups = jobGroups {
      fresh.sparkContext.setJobGroup(group, "cold setup")
      try ChContext.setup(fresh, s"$testdata/sf0.01")
      finally fresh.sparkContext.clearJobGroup()
    }
    assert(groups.count(_ == group) === 0)
    // the views it registered answer
    assert(fresh.table("nation").count() === 25)
    assert(fresh.sql("SELECT dummy FROM system.one").collect().map(_.getInt(0)).toSeq === Seq(0))
  }

  test("system.tables/columns/databases probes with ORDER BY run no Spark job") {
    ChContext.setup(spark, s"$testdata/sf0.001")
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_meta")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_meta.probe_b")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_meta.probe_a")
    Engine.execute(spark,
      "CREATE TABLE graft_meta.probe_a (id Int64, name String) ENGINE=MergeTree ORDER BY id")
    Engine.execute(spark, "CREATE TABLE graft_meta.probe_b (x Float64) ENGINE=Memory")
    val probes = Seq(
      "SELECT database, name FROM system.tables ORDER BY database, name",
      "SELECT name, engine FROM system.tables WHERE database = 'graft_meta' ORDER BY name DESC",
      "SELECT table, name, type FROM system.columns WHERE database = 'graft_meta' " +
        "ORDER BY table, position",
      "SELECT name FROM system.databases ORDER BY name")
    val answers = probes.zipWithIndex.map { case (sql, i) =>
      val qid = s"meta-probe-$i-${java.util.UUID.randomUUID()}"
      var rows: Array[Row] = null
      var tsv = ""
      val groups = jobGroups {
        val df = Engine.execute(spark, sql, "default", Some(qid))
        rows = df.collect()
        tsv = graft.formats.ResultFormatter.render(df, "TSV") // the servers' path
      }
      assert(groups.count(_ == s"graft-qid-$qid") === 0, sql)
      assert(tsv.count(_ == '\n') === rows.length, sql)
      rows.toSeq
    }
    val all = answers(0).map(r => (r.getString(0), r.getString(1)))
    assert(all === all.sorted)
    assert(all.contains(("graft_meta", "probe_a")) && all.contains(("", "nation")))
    assert(answers(1).map(r => (r.getString(0), r.getString(1))) ===
      Seq(("probe_b", "Memory"), ("probe_a", "MergeTree")))
    // types as the table's own read schema names them
    def typeOf(t: String, c: String) =
      graft.formats.ChTypeNames.fieldName(spark.table(s"graft_meta.$t").schema(c))
    assert(answers(2).map(r => (r.getString(0), r.getString(1), r.getString(2))) ===
      Seq(("probe_a", "id"), ("probe_a", "name"), ("probe_b", "x"))
        .map { case (t, c) => (t, c, typeOf(t, c)) })
    val dbs = answers(3).map(_.getString(0))
    assert(dbs === dbs.sorted && dbs.contains("graft_meta") && dbs.contains("system"))
    Engine.execute(spark, "DROP TABLE graft_meta.probe_b")
    Engine.execute(spark, "DROP TABLE graft_meta.probe_a")
  }

  /** An `events.parquet` whose ts is parquet TIMESTAMP(NANOS) — the
    * other fixture encoding — holding the rows of `src`. */
  private def writeNanosEvents(src: String, dst: java.io.File): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType("""
      message events {
        optional int64 event_id;
        optional int64 ts (TIMESTAMP(NANOS,false));
        optional int64 user_id;
        optional binary event_type (STRING);
        optional double value;
        optional binary props (STRING);
      }""")
    val rows = spark.read.parquet(src)
      .selectExpr("event_id", "unix_micros(cast(ts AS timestamp)) * 1000 AS ts",
        "user_id", "event_type", "value", "props").collect()
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(dst.getPath))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      if (!r.isNullAt(0)) g.add("event_id", r.getLong(0))
      if (!r.isNullAt(1)) g.add("ts", r.getLong(1))
      if (!r.isNullAt(2)) g.add("user_id", r.getLong(2))
      if (!r.isNullAt(3)) g.add("event_type", r.getString(3))
      if (!r.isNullAt(4)) g.add("value", r.getDouble(4))
      if (!r.isNullAt(5)) g.add("props", r.getString(5))
      w.write(g)
    } finally w.close()
  }

  test("footer schemas equal the inferred ones for every fixture table, both events.ts encodings") {
    def check(path: String): Unit = {
      val inferred = spark.read.parquet(path).schema
      assert(Tables.footerSchema(spark, path) === Some(inferred), path)
    }
    for (t <- Tables.names) check(s"$testdata/sf0.01/$t.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft-footer").toFile
    try {
      val nanos = new java.io.File(tmp, "events.parquet")
      writeNanosEvents(s"$testdata/sf0.001/events.parquet", nanos)
      check(nanos.getPath)
      assert(Tables.footerSchema(spark, nanos.getPath).get("ts").dataType === LongType)
      // a Spark-written directory: the row-metadata JSON path
      val dir = new java.io.File(tmp, "orders.parquet").getPath
      spark.read.parquet(s"$testdata/sf0.001/orders.parquet").repartition(2)
        .write.parquet(dir)
      check(dir)
      assert(Tables.footerSchema(spark, s"$tmp/missing.parquet") === None)
      // both encodings load to the same events rows
      val fresh = spark.newSession()
      def events(dir: String) = Tables.events(fresh, dir)
        .orderBy("event_id").collect().toSeq
      assert(events(tmp.getPath) === events(s"$testdata/sf0.001"))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(tmp)
    }
  }

  test("LocalSort sorts like Spark: ASC/DESC, NULLS FIRST/LAST, multiple keys, ties") {
    ChFunctions.register(spark)
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("k", IntegerType), StructField("s", StringType),
      StructField("d", DoubleType)))
    val rnd = new scala.util.Random(7)
    val rows = (0 until 60).map { i =>
      Row(i,
        if (i % 7 == 0) null else Integer.valueOf(rnd.nextInt(5)),
        if (i % 5 == 0) null else Seq("a", "b", "B", "")(rnd.nextInt(4)),
        if (i % 11 == 0) Double.NaN else if (i % 13 == 0) null
        else java.lang.Double.valueOf(rnd.nextInt(4) - 1.5))
    }
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val spread = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    local.createOrReplaceTempView("local_sort_l")
    spread.createOrReplaceTempView("local_sort_r")
    val orders = Seq(
      "k", "k DESC", "k ASC NULLS LAST", "k DESC NULLS FIRST",
      "s DESC NULLS FIRST, k ASC NULLS LAST", "d", "d DESC NULLS LAST, id",
      "k, s, d", "k DESC, d ASC, s DESC NULLS LAST, id DESC")
    orders.foreach { o =>
      val keyIdx = o.split(",").map(k => schema.fieldIndex(k.trim.split(" ").head)).toSeq
      def keysOf(r: Row) = Row.fromSeq(keyIdx.map(r.get))
      val l = spark.sql(s"SELECT * FROM local_sort_l ORDER BY $o")
      val r = spark.sql(s"SELECT * FROM local_sort_r ORDER BY $o")
      val plan = l.queryExecution.optimizedPlan
      assert(plan.isInstanceOf[LocalRelation] && plan.collect { case s: Sort => s }.isEmpty, o)
      val (lr, rr) = (l.collect().toSeq, r.collect().toSeq)
      // same key sequence; tie order is free, so rows compare as a set
      assert(lr.map(keysOf) === rr.map(keysOf), o)
      assert(lr.map(_.getInt(0)).sorted === rr.map(_.getInt(0)).sorted, o)
      // ties keep input order (the JDK sort is stable)
      lr.zip(lr.drop(1)).foreach { case (a, b) =>
        if (keysOf(a) == keysOf(b)) assert(a.getInt(0) < b.getInt(0), o)
      }
    }
  }
}
