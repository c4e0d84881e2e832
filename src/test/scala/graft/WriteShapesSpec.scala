package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.{col, count, hash, lit, sum}
import graft.dialect.Engine
import graft.OneTaskSpec.Counts

/** How an INSERT block lands ([[graft.dialect.Ddl]]'s `layoutAligned`).
  * A block no larger than one file split (`spark.sql.files
  * .openCostInBytes`, 4 MB in tests) is written by one task as one
  * file per partition value, sorted on the ORDER BY key; a larger or
  * unsized block keeps range clustering. Either way the table holds
  * the same rows. Local writes fork no `chmod` ([[graft.LocalFs]]). */
class WriteShapesSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestSession.spark
  private val Db = "graft_writes"
  private val OneTask = Counts(1, 1, 1)

  override def beforeAll(): Unit = {
    Engine.execute(spark, s"DROP DATABASE IF EXISTS $Db CASCADE")
    Engine.execute(spark, s"CREATE DATABASE $Db")
  }

  override def afterAll(): Unit = Engine.execute(spark, s"DROP DATABASE IF EXISTS $Db CASCADE")

  private def table(name: String, partitioned: Boolean = false): String = {
    val t = s"$Db.$name"
    Engine.execute(spark, s"DROP TABLE IF EXISTS $t")
    Engine.execute(spark, s"CREATE TABLE $t (k UInt64, s String, d Date) ENGINE = MergeTree " +
      (if (partitioned) "PARTITION BY toYYYYMM(d) " else "") + "ORDER BY k")
    t
  }

  private def location(t: String): Path = Paths.get(spark.sessionState.catalog
    .getTableMetadata(TableIdentifier(t.split('.')(1), Some(Db))).location)

  private def parts(t: String): Set[Path] = {
    val walk = Files.walk(location(t))
    try walk.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSet
    finally walk.close()
  }

  /** Runs one tracked statement; returns what its job group ran and
    * the part files it added. */
  private def landed(t: String)(run: Option[String] => Unit): (Counts, Set[Path]) = {
    val before = parts(t)
    val qid = s"write-shape-${java.util.UUID.randomUUID()}"
    val c = OneTaskSpec.counted(spark)(run(Some(qid)))
    (c.getOrElse(s"graft-qid-$qid", Counts(0, 0, 0)), parts(t) -- before)
  }

  private def sql(t: String, text: String): (Counts, Set[Path]) =
    landed(t)(qid => Engine.execute(spark, text, "default", qid))

  private def insert(t: String, format: String, payload: Array[Byte]): (Counts, Set[Path]) =
    landed(t)(qid => Engine.insert(spark,
      Engine.insertHeader(s"INSERT INTO $t FORMAT $format").get._1, payload, "default", qid))

  /** A file's keys in file order. */
  private def keys(f: Path): Seq[Long] =
    spark.read.parquet(f.toString).select(col("k").cast("long")).collect().map(_.getLong(0)).toSeq

  private def assertSorted(files: Set[Path]): Unit = files.foreach { f =>
    val ks = keys(f)
    assert(ks.nonEmpty && ks === ks.sorted, f)
  }

  /** Row count and an order-insensitive hash of a table's rows. */
  private def signature(t: String): (Long, Long) = {
    val r = spark.table(t).agg(count(lit(1)), sum(hash(col("k"), col("s"), col("d")).cast("long")))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Runs `f` with every block above the one-task bound: the range path. */
  private def rangePath[T](f: => T): T = {
    val key = "spark.sql.files.openCostInBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "0")
    try f finally spark.conf.set(key, prev)
  }

  /** `n` TSV rows with shuffled keys; `width` sizes the string column. */
  private def tsv(n: Int, width: Int = 8, seed: Int = 7): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    rnd.shuffle((0 until n).toVector).map { k =>
      s"$k\t${rnd.alphanumeric.take(width).mkString}\t2024-0${1 + k % 3}-1${k % 10}"
    }.mkString("", "\n", "\n").getBytes(UTF_8)
  }

  private def values(n: Int): String =
    new scala.util.Random(3).shuffle((0 until n).toVector)
      .map(k => s"($k, 'v$k', '2024-0${1 + k % 3}-0${1 + k % 9}')").mkString(", ")

  test("a 20-row INSERT … VALUES runs 1 job, 1 stage, 1 task and adds 1 sorted file") {
    val t = table("vals")
    val (c, files) = sql(t, s"INSERT INTO $t VALUES ${values(20)}")
    assert(c === OneTask)
    assert(files.size === 1)
    assertSorted(files)
    val twin = table("vals_range")
    rangePath(Engine.execute(spark, s"INSERT INTO $twin VALUES ${values(20)}"))
    assert(signature(t) === signature(twin))
    assert(signature(t)._1 === 20)
  }

  test("a TSV body under 4 MB and a Native body land the same way") {
    val body = tsv(3800, width = 40)
    assert(body.length > (64 << 10) && body.length < (4 << 20))
    val t = table("tsv")
    val (c, files) = insert(t, "TSV", body)
    assert(c === OneTask)
    assert(files.size === 1)
    assertSorted(files)
    val twin = table("tsv_range")
    rangePath(insert(twin, "TSV", body))
    assert(signature(t) === signature(twin))
    assert(signature(t)._1 === 3800)

    val native = new java.io.ByteArrayOutputStream
    graft.formats.Formats.write("Native")(spark.table(t), () => native)
    val n = table("native")
    val (nc, nFiles) = insert(n, "Native", native.toByteArray)
    assert(nc === OneTask)
    assert(nFiles.size === 1)
    assertSorted(nFiles)
    assert(signature(n) === signature(t))
  }

  test("a 20-row partitioned insert writes one sorted file per month") {
    val t = table("months", partitioned = true)
    val (c, files) = sql(t, s"INSERT INTO $t VALUES ${values(20)}")
    assert(c === OneTask)
    val dirs = files.toSeq.map(_.getParent.getFileName.toString)
    assert(dirs.sorted === Seq("_part=202401", "_part=202402", "_part=202403"))
    assertSorted(files)
    val twin = table("months_range", partitioned = true)
    rangePath(Engine.execute(spark, s"INSERT INTO $twin VALUES ${values(20)}"))
    assert(signature(t) === signature(twin))
  }

  test("a block above the bound, or unsized, keeps range clustering") {
    val small = table("small_src")
    Engine.execute(spark, s"INSERT INTO $small VALUES ${values(20)}")
    val copy = table("small_copy")
    val (cc, copyFiles) = sql(copy, s"INSERT INTO $copy SELECT * FROM $small")
    assert(cc === OneTask)
    assert(copyFiles.size === 1)

    // numbers() has no size: its 8-byte-a-row estimate would pass as 2.4 MB
    val big = table("numbers")
    val (nc, _) = sql(big,
      s"INSERT INTO $big SELECT number, toString(number), toDate('2024-01-01') FROM numbers(299993)")
    assert(nc.tasks > 1, nc)
    assert(signature(big)._1 === 299993)

    val body = tsv(40000, width = 120)
    assert(body.length > (4 << 20))
    val wide = table("tsv_big")
    val (tc, tFiles) = insert(wide, "TSV", body)
    assert(tc.tasks > 1, tc)
    assert(tFiles.size > 1)
    assertSorted(tFiles)
    assert(signature(wide)._1 === 40000)
  }

  test("local writes fork no process and set Hadoop's permissions") {
    val t = table("forks", partitioned = true)
    val dir = location(t)
    def tree: Set[Path] = { val w = Files.walk(dir); try w.iterator.asScala.toSet finally w.close() }
    val before = tree
    val marker = "true"
    val forks = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => {
        val cmd = e.getString("command")
        if (cmd == marker) markerSeen.countDown() else forks.add(cmd)
      })
      rs.startAsync()
      (1 to 5).foreach(i => Engine.execute(spark, s"INSERT INTO $t VALUES ${values(20 + i)}"))
      // the stream delivers in commit order: once this fork is seen,
      // every process the inserts started has been seen too
      new ProcessBuilder(marker).start().waitFor()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally rs.close()
    assert(forks.isEmpty, forks.asScala.toSeq)

    val added = tree -- before
    def mode(p: Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    val (dirs, files) = added.partition(Files.isDirectory(_))
    assert(files.count(_.getFileName.toString.endsWith(".parquet")) >= 5)
    assert(dirs.nonEmpty)
    files.foreach(f => assert(mode(f) === "rw-r--r--", f))
    dirs.foreach(d => assert(mode(d) === "rwxr-xr-x", d))
  }
}
