package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.dialect.Engine

/** url() table function: local/remote fetch + transparent .xz/.gz
  * decompress + format readers (the reference's ClickBench load shape,
  * test.yml:50). */
class UrlSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def writeTsv(rows: Seq[String]): java.nio.file.Path = {
    val f = Files.createTempFile("urlspec_", ".tsv")
    Files.writeString(f, rows.mkString("\n") + "\n")
    f
  }

  test("url('file://...tsv', 'TSV') reads tab-separated with inferred types") {
    val f = writeTsv(Seq("1\talpha", "2\tbeta"))
    val df = Engine.execute(spark,
      s"SELECT * FROM url('file://$f', 'TSV') ORDER BY _c0")
    val rows = df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows === Seq((1, "alpha"), (2, "beta")))
    // read by path, the relation sizes itself from the file (a join
    // side can broadcast); one over parsed lines reports Long.MaxValue
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(1 << 20))
  }

  test("url() with .xz decompresses transparently (hits_v1.tsv.xz shape)") {
    val f = writeTsv(Seq("10\tx", "20\ty"))
    val xz = Files.createTempFile("urlspec_", ".tsv.xz")
    val os = new org.tukaani.xz.XZOutputStream(
      new java.io.FileOutputStream(xz.toFile), new org.tukaani.xz.LZMA2Options())
    os.write(Files.readAllBytes(f)); os.close()
    val df = Engine.execute(spark,
      s"SELECT count() AS n, sum(_c0) AS s FROM url('file://$xz', 'TSV')")
    val r = df.collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 30L)
  }

  test("INSERT INTO ... SELECT * FROM url(...) loads a table (test.yml:50 shape)") {
    val f = writeTsv(Seq("1\tred", "2\tblue", "3\tgreen"))
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.colors")
    Engine.execute(spark,
      "CREATE TABLE graft_spec.colors (id UInt32, name String) ENGINE=Memory")
    Engine.execute(spark,
      s"INSERT INTO graft_spec.colors SELECT * FROM url('file://$f', 'TSV')")
    val n = Engine.execute(spark, "SELECT count() FROM graft_spec.colors")
      .collect().head.getLong(0)
    assert(n === 3L)
  }

  test("file() local-path variant reads without a scheme") {
    val f = writeTsv(Seq("9\tnine"))
    val df = Engine.execute(spark, s"SELECT * FROM file('$f', 'TSV')")
    assert(df.collect().head.getInt(0) === 9)
  }

  test("INSERT … FORMAT and file() read the same rows from the same bytes") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    def rows(sql: String) = Engine.execute(spark, sql).collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSeq
    val want = Seq((1, Some("\"quoted\"")), (2, None), (3, Some("a,b")))
    Seq("TSV" -> "1\t\"quoted\"\n2\t\\N\n3\ta,b\n",
      "CSV" -> "1,\"\"\"quoted\"\"\"\n2,\\N\n3,\"a,b\"\n").foreach { case (fmt, bytes) =>
      val f = Files.createTempFile("urlspec_", "." + fmt.toLowerCase)
      Files.writeString(f, bytes)
      assert(rows(s"SELECT * FROM file('$f', '$fmt') ORDER BY _c0") === want, fmt)
      Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.same")
      Engine.execute(spark,
        "CREATE TABLE graft_spec.same (id Int32, s Nullable(String)) ENGINE=Memory")
      Engine.execute(spark, s"INSERT INTO graft_spec.same FORMAT $fmt\n$bytes")
      assert(rows("SELECT id, s FROM graft_spec.same ORDER BY id") === want, fmt)
    }
  }

  test("url(…, 'JSON') reads newline-delimited objects; RawBLOB names its column raw_blob") {
    val f = Files.createTempFile("urlspec_", ".json")
    Files.writeString(f, "{\"id\":1,\"s\":\"a\"}\n{\"id\":2,\"s\":null}\n")
    val rows = Engine.execute(spark,
      s"SELECT id, s FROM url('file://$f', 'JSON') ORDER BY id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(rows === Seq((1L, Some("a")), (2L, None)))
    val blob = Engine.execute(spark, s"SELECT raw_blob FROM file('$f', 'RawBLOB')")
      .collect().map(_.getString(0)).toSeq
    assert(blob === Seq(Files.readString(f)))
  }

  test("system.one and system.settings answer client probes") {
    graft.dialect.ChContext.setup(spark, "/root/testdata/sf0.001")
    assert(Engine.execute(spark, "SELECT dummy FROM system.one")
      .collect().head.getInt(0) === 0)
    assert(Engine.execute(spark,
      "SELECT value FROM system.settings WHERE name = 'session_timezone'")
      .collect().head.getString(0) === "UTC")
  }

  test("url() with .gz decompresses via the JDK") {
    val f = writeTsv(Seq("5\tzz"))
    val gz = Files.createTempFile("urlspec_", ".tsv.gz")
    val os = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gz.toFile))
    os.write(Files.readAllBytes(f)); os.close()
    val df = Engine.execute(spark, s"SELECT * FROM url('file://$gz', 'TSV')")
    assert(df.collect().head.getInt(0) === 5)
  }
}
