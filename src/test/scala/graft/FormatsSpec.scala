package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.formats.{ResultFormatter, NativeCodec, ChTypeNames, Wire}
import graft.dialect.Transpiler

/** Output-format shapes mirroring the reference's expectations
  * (test_suite.py literal matrix, index.html JSON envelope). */
class FormatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def q(sql: String) = {
    graft.dialect.ChFunctions.register(spark)
    spark.sql(Transpiler.transpile(sql))
  }

  /** INSERT … FORMAT with its rows as a byte payload, landed the way
    * the servers land it. */
  private def insertPayload(header: String, payload: Array[Byte]) = {
    import graft.dialect.Engine
    Engine.insert(spark, Engine.insertHeader(header).get._1, payload, "default", None)
  }

  /** Whole-result single-block encode — test-only; production paths
    * stream bounded blocks via NativeCodec.writeBlocks. */
  private def encodeDf(df: org.apache.spark.sql.DataFrame): Array[Byte] =
    NativeCodec.encode(df.schema, df.collect())

  test("TSV: SELECT 1 renders as '1\\n' (test_suite.py:126 shape)") {
    assert(ResultFormatter.render(q("SELECT 1"), "TSV") === "1\n")
  }

  test("TSV: multi-column row with tab separation and trailing newline") {
    val out = ResultFormatter.render(
      q("SELECT 1 AS num, 'test' AS str, 3.14 AS pi"), "TSV")
    assert(out === "1\ttest\t3.14\n")
  }

  test("TSV: numbers(3) with toString (test_suite.py:334)") {
    val out = ResultFormatter.render(
      q("SELECT number, toString(number) AS s FROM numbers(3) ORDER BY number"), "TSV")
    assert(out === "0\t0\n1\t1\n2\t2\n")
  }

  test("TSV escapes tabs/newlines; NULL renders as \\N") {
    val out = ResultFormatter.render(
      q("SELECT 'a\tb' AS x, CAST(NULL AS STRING) AS y"), "TSV")
    assert(out === "a\\tb\t\\N\n")
  }

  test("TSVWithNames has a header row") {
    val out = ResultFormatter.render(q("SELECT 1 AS one"), "TSVWithNames")
    assert(out === "one\n1\n")
  }

  test("CSV quotes cells containing commas") {
    val out = ResultFormatter.render(q("SELECT 'a,b' AS x, 2 AS y"), "CSV")
    assert(out === "\"a,b\",2\n")
  }

  test("JSON envelope carries meta/data/rows/statistics (index.html:706-712)") {
    val out = ResultFormatter.render(q("SELECT 1 AS num, 'hi' AS s"), "JSON")
    assert(out.contains(""""meta":[{"name":"num","type":"Int32"}"""), out)
    assert(out.contains(""""data":[{"num":1,"s":"hi"}]"""), out)
    assert(out.contains(""""rows":1"""))
    assert(out.contains(""""statistics":{"elapsed":"""))
  }

  test("JSONCompact data rows are arrays; Int64 is quoted") {
    val out = ResultFormatter.render(
      q("SELECT number FROM numbers(2) ORDER BY number"), "JSONCompact")
    assert(out.contains(""""data":[["0"],["1"]]"""), out)
    assert(out.contains(""""type":"Int64""""), out)
  }

  test("Vertical: one name: value line per column, padded, NULL as ᴺᵁᴸᴸ") {
    val out = ResultFormatter.render(
      q("SELECT 1 AS id, 'hi' AS name, NULL AS gap"), "Vertical")
    assert(out ===
      "Row 1:\n──────\nid:   1\nname: hi\ngap:  ᴺᵁᴸᴸ\n")
    val two = ResultFormatter.render(
      q("SELECT number AS n FROM numbers(2)"), "Vertical")
    assert(two === "Row 1:\n──────\nn: 0\n\nRow 2:\n──────\nn: 1\n")
  }

  test("Markdown: header + alignment row, numbers right-aligned, pipes escaped") {
    val out = ResultFormatter.render(
      q("SELECT 1 AS id, 'a|b' AS s"), "Markdown")
    assert(out ===
      "| id | s |\n| ---: | --- |\n| 1 | a\\|b |\n")
  }

  test("ClickHouse type names map from Spark types") {
    val df = q("SELECT 1 AS i, CAST(1 AS BIGINT) AS l, 1.5 AS d, 'x' AS s, " +
      "CAST('2024-01-01' AS DATE) AS dt, array(1, 2) AS arr")
    val names = df.schema.fields.map(ChTypeNames.fieldName).toSeq
    // the DATE cast of a literal is nullable in Spark -> Nullable wrap
    assert(names === Seq("Int32", "Int64", "Decimal(2, 1)", "String",
      "Nullable(Date)", "Array(Int32)"))
  }

  test("Native codec round-trips a mixed-type block") {
    val df = q("""SELECT number AS n, toString(number) AS s,
                  number * 1.5 AS f,
                  number % 2 ? number : NULL AS maybe
                  FROM numbers(5) ORDER BY n""")
    val bytes = encodeDf(df)
    val cols = NativeCodec.decode(bytes)
    assert(cols.map(_._1) === Seq("n", "s", "f", "maybe"))
    assert(cols(0)._3 === Vector(0L, 1L, 2L, 3L, 4L))
    assert(cols(1)._3 === Vector("0", "1", "2", "3", "4"))
    assert(cols(3)._2 === "Nullable(Int64)")
    assert(cols(3)._3 === Vector(null, 1L, null, 3L, null))
  }

  test("Native codec round-trips dates, decimals and arrays") {
    val df = q("""SELECT CAST('2024-03-05' AS DATE) AS d,
                  CAST(12345.67 AS DECIMAL(10,2)) AS dec,
                  array(1, 2, 3) AS arr""")
    val cols = NativeCodec.decode(encodeDf(df))
    assert(cols(0)._3.head === java.time.LocalDate.parse("2024-03-05"))
    assert(cols(1)._3.head === BigDecimal("12345.67"))
    assert(cols(2)._3.head === Vector(1, 2, 3))
  }

  test("UInt64 boundary values render unsigned through text AND native") {
    // ref test_suite.py:359-361 probes 2^63 and 2^64-1; LongType can't
    // carry them, so toUInt64 surfaces Decimal(20,0) and every format
    // must render the UNSIGNED value
    val df = q("""SELECT toUInt64('9223372036854775808') AS lo,
                  toUInt64('18446744073709551615') AS hi""")
    assert(ResultFormatter.render(df, "TSV") ===
      "9223372036854775808\t18446744073709551615\n")
    assert(ResultFormatter.render(df, "CSV") ===
      "9223372036854775808,18446744073709551615\n")
    // JSON quotes 64-bit ints (output_format_json_quote_64bit_integers=1)
    val jc = ResultFormatter.render(df, "JSONCompact")
    assert(jc.contains("\"9223372036854775808\""), jc)
    assert(jc.contains("\"18446744073709551615\""), jc)
    val tnt = ResultFormatter.render(df, "TSVWithNamesAndTypes")
    val typeRow = tnt.linesIterator.drop(1).next()
    assert(typeRow.split('\t').forall(_.contains("UInt64")), tnt)
    // native codec: 8 wire bytes, unsigned on decode
    val cols = NativeCodec.decode(encodeDf(df))
    assert(cols(0)._2.contains("UInt64"), cols(0)._2)
    assert(cols(0)._3.head === BigDecimal("9223372036854775808"))
    assert(cols(1)._3.head === BigDecimal("18446744073709551615"))
    // and the max value's wire image is exactly 0xFF x8 (two's complement)
    val one = NativeCodec.decode(encodeDf(
      q("SELECT toUInt64('18446744073709551615') AS v")))
    assert(one(0)._3.head === BigDecimal("18446744073709551615"))
  }

  test("Native codec: nullable Map column emits no mask and stays in sync") {
    // ChTypeNames never wraps Map/Tuple in Nullable(...), so encode must
    // not emit a mask for them either — a desync here corrupts every
    // later column in the block.
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("m", MapType(StringType, LongType), nullable = true),
      StructField("tail", LongType, nullable = false)))
    val rows = Array(Row(Map("a" -> 0L), 0L), Row(null, 1L), Row(Map("a" -> 2L), 2L))
    val cols = NativeCodec.decode(NativeCodec.encode(schema, rows))
    assert(cols(0)._2 === "Map(String, Int64)")
    assert(cols(1)._2 === "Int64" && cols(1)._3 === Vector(0L, 1L, 2L))
  }

  test("TSVWithNamesAndTypes: names row then ClickHouse type names row") {
    val out = ResultFormatter.render(
      q("SELECT number, toString(number) AS s FROM numbers(2) ORDER BY number"),
      "TSVWithNamesAndTypes")
    val lines = out.split("\n")
    assert(lines(0) === "number\ts")
    assert(lines(1).endsWith("String") && lines(1).contains("Int64"))
    assert(lines(2) === "0\t0" && lines(3) === "1\t1")
  }

  test("JSONEachRow renders one object per line") {
    val out = ResultFormatter.render(
      q("SELECT number, toString(number) AS s FROM numbers(2) ORDER BY number"),
      "JSONEachRow")
    assert(out === "{\"number\":\"0\",\"s\":\"0\"}\n{\"number\":\"1\",\"s\":\"1\"}\n")
  }

  test("JSONEachRow export imports back to equal rows (quoted 64-bit ints, decimals)") {
    import graft.dialect.Engine
    val cols = "(k Int32, b Int8, s16 Int16, i Int64, u UInt64, d Decimal(12, 2), " +
      "f Float64, s String, n Nullable(Int64))"
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_fmt")
    for (t <- Seq("jsrc", "jdst")) {
      Engine.execute(spark, s"DROP TABLE IF EXISTS graft_fmt.$t")
      Engine.execute(spark, s"CREATE TABLE graft_fmt.$t $cols ENGINE=Memory")
    }
    Engine.execute(spark, """INSERT INTO graft_fmt.jsrc VALUES
      (1, -128, 32767, 9007199254740993, 18446744073709551615, 1234567890.12, 0.5, 'a"b', NULL),
      (2, 127, -32768, -9223372036854775808, 0, -0.01, -1e300, '', 42)""")
    val rows = "SELECT * FROM graft_fmt.%s ORDER BY k"
    val json = ResultFormatter.render(Engine.execute(spark, rows.format("jsrc")), "JSONEachRow")
    assert(json.contains("\"i\":\"9007199254740993\""), json) // 64-bit ints travel quoted
    Engine.execute(spark, s"INSERT INTO graft_fmt.jdst FORMAT JSONEachRow\n$json")
    val src = Engine.execute(spark, rows.format("jsrc")).collect().toSeq
    assert(src.length === 2)
    assert(Engine.execute(spark, rows.format("jdst")).collect().toSeq === src)
  }

  test("JSONCompactEachRow renders one array per line") {
    val out = ResultFormatter.render(
      q("SELECT number, toString(number) AS s FROM numbers(2) ORDER BY number"),
      "JSONCompactEachRow")
    assert(out === "[\"0\",\"0\"]\n[\"1\",\"1\"]\n")
  }

  test("QueryRunner one-shot call mirrors the reference Lambda defaults") {
    val out = graft.QueryRunner.runOnce(spark)
    assert(out.contains(""""data":[["25.5.2"]]"""), out)
    val tsv = graft.QueryRunner.runOnce(spark,
      "/root/testdata/sf0.001", "SELECT count() FROM nation", "TSV")
    assert(tsv === "25\n")
  }

  test("varint round-trips across widths") {
    val out = new java.io.ByteArrayOutputStream()
    val vals = Seq(0L, 1L, 127L, 128L, 300L, 65536L, Int.MaxValue.toLong, 1L << 40)
    vals.foreach(v => Wire.writeVarint(out, v))
    val in = new java.io.ByteArrayInputStream(out.toByteArray)
    vals.foreach(v => assert(Wire.readVarint(in) === v))
    // a stream that ends inside a varint is truncated
    intercept[java.io.EOFException](Wire.readVarint(
      new java.io.ByteArrayInputStream(Array[Byte](0x80.toByte, 0x80.toByte))))
    // ten bytes carry all 64 bits; an eleventh is rejected, not wrapped
    val max = new java.io.ByteArrayOutputStream()
    Wire.writeVarint(max, -1L)
    assert(max.size() === 10)
    assert(Wire.readVarint(new java.io.ByteArrayInputStream(max.toByteArray)) === -1L)
    val tooLong = Array.fill[Byte](10)(0x80.toByte) :+ 1.toByte
    val e = intercept[IllegalArgumentException](
      Wire.readVarint(new java.io.ByteArrayInputStream(tooLong)))
    assert(e.getMessage.contains("longer than 10 bytes"), e)
  }

  test("Native decode: a truncated body fails with EOFException at once") {
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException}
    // one column that claims 50M rows and carries none of them
    def body(tpe: String): Array[Byte] = {
      val b = new ByteArrayOutputStream()
      Wire.writeVarint(b, 1); Wire.writeVarint(b, 50000000)
      Seq("x", tpe).foreach { s => Wire.writeVarint(b, s.length); b.write(s.getBytes("UTF-8")) }
      b.toByteArray
    }
    assert(body("Int8").length === 12)
    // warm the decoder on a well-formed block first
    NativeCodec.decode(encodeDf(q("SELECT toInt8(1) AS x")))
    Seq("Int8", "UInt8", "Nullable(Int8)").foreach { t =>
      // best of three, so a GC pause elsewhere in the JVM does not count
      val ms = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        intercept[EOFException](NativeCodec.decode(new ByteArrayInputStream(body(t)), false))
        (System.nanoTime() - t0) / 1e6
      }.min
      assert(ms < 10, s"$t: $ms ms")
    }
    // the custom-serialization flag and the RowBinary null flag too
    intercept[EOFException](NativeCodec.decode(new ByteArrayInputStream(body("Int8")), true))
    intercept[EOFException](NativeCodec.decodeRowBinary(Array[Byte](0),
      withNamesAndTypes = false, Seq("x" -> "Nullable(Int8)")))
  }

  test("Native/RowBinary decode: a declared length is checked before it is allocated") {
    import java.io.{ByteArrayInputStream, EOFException, InputStream}
    val out = new java.io.ByteArrayOutputStream()
    Wire.writeVarint(out, 2000000000L) // a 2 GB string
    val claim = out.toByteArray
    assert(claim.length === 5)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    // a byte-array body: the claim exceeds the 0 bytes left after it
    val ms = (1 to 3).map { _ =>
      timed {
        val e = intercept[EOFException](NativeCodec.decodeRowBinary(claim,
          withNamesAndTypes = false, Seq("s" -> "String")))
        assert(e.getMessage.contains("string length 2000000000"), e)
      }
    }.min
    assert(ms < 10, s"$ms ms")
    // a column count, a row count and an array length are checked too
    intercept[EOFException](NativeCodec.decodeRowBinary(claim, withNamesAndTypes = true, Nil))
    intercept[EOFException](NativeCodec.decode(claim))
    intercept[EOFException](NativeCodec.decodeRowBinary(claim,
      withNamesAndTypes = false, Seq("a" -> "Array(Int8)")))
    // a socket stream is held to the wire cap before anything is read
    val socket: InputStream = new java.io.SequenceInputStream(
      new ByteArrayInputStream(Array[Byte](1)), new ByteArrayInputStream(claim))
    val e = intercept[IllegalArgumentException](NativeCodec.decode(socket))
    assert(e.getMessage.contains("wire cap"), e)
  }

  test("writeBlocks streams bounded multi-block Native via toLocalIterator") {
    import scala.jdk.CollectionConverters._
    val df = spark.range(10).selectExpr("id", "cast(id AS string) AS s")
    val bos = new java.io.ByteArrayOutputStream()
    var frames = List.empty[Int]
    val n = NativeCodec.writeBlocks(bos, df.schema,
      df.toLocalIterator().asScala, blockRows = 3,
      frame = len => frames = frames :+ len)
    assert(n === 10)
    assert(frames.sum === 10)
    assert(frames.forall(_ <= 3)) // no block exceeds the bound
    // the concatenation decodes back to all 10 rows, block by block
    val in = new java.io.ByteArrayInputStream(bos.toByteArray)
    val ids = frames.flatMap { _ =>
      val block = NativeCodec.decode(in)
      assert(block.map(_._1) === Seq("id", "s"))
      block.head._3
    }
    assert(ids === (0L until 10L).toList)
  }

  test("RowBinary encodes fixed-width LE values with nullable flag bytes") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType, nullable = true)))
    val df = spark.createDataFrame(
      Seq(Row(7L, "ab"), Row(8L, null)).asJava, schema)
    val bos = new java.io.ByteArrayOutputStream()
    val n = NativeCodec.writeRowBinary(bos, df.schema,
      df.toLocalIterator().asScala, withNamesAndTypes = false)
    assert(n === 2)
    val b = bos.toByteArray
    // row 1: 8 LE bytes of 7, flag 0, varint len 2, 'a', 'b'
    assert(b.take(8).toSeq === Seq[Byte](7, 0, 0, 0, 0, 0, 0, 0))
    assert(b(8) === 0 && b(9) === 2 && b(10) === 'a'.toByte && b(11) === 'b'.toByte)
    // row 2: 8 LE bytes of 8, flag 1, nothing follows
    assert(b.slice(12, 20).toSeq === Seq[Byte](8, 0, 0, 0, 0, 0, 0, 0))
    assert(b(20) === 1 && b.length === 21)
  }

  test("RowBinaryWithNamesAndTypes leads with the column header") {
    import scala.jdk.CollectionConverters._
    val df = spark.range(1).selectExpr("cast(id AS int) AS i")
    val bos = new java.io.ByteArrayOutputStream()
    NativeCodec.writeRowBinary(bos, df.schema,
      df.toLocalIterator().asScala, withNamesAndTypes = true)
    val b = bos.toByteArray
    // ncols=1, name "i", type "Nullable(Int32)" (range output is nullable
    // after the cast), then the row
    assert(b(0) === 1 && b(1) === 1 && b(2) === 'i'.toByte)
  }

  test("FORMAT Null executes fully and emits nothing") {
    assert(ResultFormatter.render(spark.range(5).toDF(), "Null") === "")
  }

  test("RowBinary INSERT round-trip: emit, bulk-load, select back") {
    import scala.jdk.CollectionConverters._
    import graft.dialect.Engine
    graft.dialect.ChFunctions.register(spark)
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_fmt")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_fmt.rb")
    Engine.execute(spark, """
      CREATE TABLE graft_fmt.rb (id Int64, s String, d Date, v Float64)
      ENGINE=Memory""")
    // what our own SELECT ... FORMAT RowBinary emits for this schema
    val src = spark.table("graft_fmt.rb").schema
    val df = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, "a", java.sql.Date.valueOf("2024-01-02"), 1.5),
      org.apache.spark.sql.Row(2L, "b", java.sql.Date.valueOf("2024-03-04"), -2.25)
    ).asJava, src)
    val bos = new java.io.ByteArrayOutputStream()
    NativeCodec.writeRowBinary(bos, src, df.toLocalIterator().asScala,
      withNamesAndTypes = false)
    insertPayload("INSERT INTO graft_fmt.rb FORMAT RowBinary", bos.toByteArray)
    val back = Engine.execute(spark,
      "SELECT id, s, toString(d) AS d, v FROM graft_fmt.rb ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
    assert(back.toSeq === Seq((1L, "a", "2024-01-02", 1.5), (2L, "b", "2024-03-04", -2.25)))
    // WithNamesAndTypes variant: header names drive column resolution
    val bos2 = new java.io.ByteArrayOutputStream()
    NativeCodec.writeRowBinary(bos2, src, spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(3L, "c", java.sql.Date.valueOf("2025-05-06"), 0.125)
    ).asJava, src).toLocalIterator().asScala, withNamesAndTypes = true)
    insertPayload("INSERT INTO graft_fmt.rb FORMAT RowBinaryWithNamesAndTypes", bos2.toByteArray)
    assert(Engine.execute(spark, "SELECT count() AS n FROM graft_fmt.rb")
      .collect().head.getLong(0) === 3L)
  }

  test("Native INSERT round-trip: multi-block stream bulk-loads") {
    import scala.jdk.CollectionConverters._
    import graft.dialect.Engine
    graft.dialect.ChFunctions.register(spark)
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_fmt")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_fmt.nat")
    Engine.execute(spark,
      "CREATE TABLE graft_fmt.nat (n Int64, s String) ENGINE=Memory")
    val df = spark.range(10).selectExpr("id AS n", "cast(id AS string) AS s")
    val bos = new java.io.ByteArrayOutputStream()
    NativeCodec.writeBlocks(bos, df.schema,
      df.toLocalIterator().asScala, blockRows = 3) // forces 4 blocks
    insertPayload("INSERT INTO graft_fmt.nat FORMAT Native", bos.toByteArray)
    val back = Engine.execute(spark,
      "SELECT n, s FROM graft_fmt.nat ORDER BY n").collect()
    assert(back.length === 10)
    assert(back.map(_.getLong(0)).toSeq === (0L until 10L))
    assert(back.map(_.getString(1)).toSeq === (0 until 10).map(_.toString))
  }

  test("system.numbers with LIMIT stops early (lazy Range scan)") {
    graft.dialect.ChFunctions.register(spark)
    val df = spark.sql(graft.dialect.Transpiler.transpile(
      "SELECT number FROM system.numbers LIMIT 5"))
    assert(df.collect().map(_.getLong(0)).toSeq === (0L until 5L))
  }

  test("Values format renders quoted tuples") {
    val out = ResultFormatter.render(
      spark.sql("SELECT * FROM VALUES (1, 'a'), (2, NULL) AS t(n, s)")
        .orderBy("n"), "Values")
    assert(out === "(1,'a'),(2,NULL)\n")
  }

  test("writeBlocks on an empty result emits one zero-row schema block") {
    import scala.jdk.CollectionConverters._
    val df = spark.range(5).filter("id < 0").selectExpr("id")
    val bos = new java.io.ByteArrayOutputStream()
    var frames = List.empty[Int]
    val n = NativeCodec.writeBlocks(bos, df.schema,
      df.toLocalIterator().asScala, blockRows = 3,
      frame = len => frames = frames :+ len)
    assert(n === 0)
    assert(frames === List(0))
    val block = NativeCodec.decode(bos.toByteArray)
    assert(block.map(_._1) === Seq("id")) // clients still learn the schema
    assert(block.head._3.isEmpty)
  }

  test("Parquet INSERT round-trip: export a file, bulk-load, select back") {
    import graft.dialect.Engine
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_fmt")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_fmt.pq")
    Engine.execute(spark,
      "CREATE TABLE graft_fmt.pq (id Int64, s String, f Float64) ENGINE=Memory")
    // payload = a complete parquet file, as a bulk client would send
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_spec")
    val src = q("SELECT number AS id, toString(number) AS s, number * 1.5 AS f " +
      "FROM numbers(100)")
    src.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
    val payload = java.nio.file.Files.readAllBytes(part.toPath)
    insertPayload("INSERT INTO graft_fmt.pq FORMAT Parquet", payload)
    val back = Engine.execute(spark,
      "SELECT count() AS n, sum(id) AS s, max(f) AS m FROM graft_fmt.pq")
      .collect().head
    assert(back.getLong(0) === 100L)
    assert(back.getLong(1) === 4950L)
    assert(back.getDouble(2) === 148.5)
    tmp.toFile.listFiles().foreach(_.delete())
    java.nio.file.Files.deleteIfExists(tmp)
  }

  test("Parquet INSERT with a column list resolves positionally") {
    import graft.dialect.Engine
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_fmt")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_fmt.pq2")
    Engine.execute(spark,
      "CREATE TABLE graft_fmt.pq2 (id Int64, s String) ENGINE=Memory")
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_spec2")
    // file column names differ from the target's: positional over (s, id)
    q("SELECT toString(number) AS a, number AS b FROM numbers(3)")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
    insertPayload("INSERT INTO graft_fmt.pq2 (s, id) FORMAT Parquet",
      java.nio.file.Files.readAllBytes(part.toPath))
    val rows = Engine.execute(spark,
      "SELECT id, s FROM graft_fmt.pq2 ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    assert(rows.map(_.getString(1)).toSeq === Seq("0", "1", "2"))
    tmp.toFile.listFiles().foreach(_.delete())
    java.nio.file.Files.deleteIfExists(tmp)
  }

  test("Arrow IPC round-trip: stream + file framing, nulls, dates") {
    import scala.jdk.CollectionConverters._
    import graft.dialect.Engine
    import graft.formats.ArrowCodec
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_fmt")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_fmt.arr")
    Engine.execute(spark, """
      CREATE TABLE graft_fmt.arr (id Int64, s String, d Date, v Float64)
      ENGINE=Memory""")
    val src = spark.table("graft_fmt.arr").schema
    val df = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, "α", java.sql.Date.valueOf("2024-01-02"), 1.5),
      org.apache.spark.sql.Row(2L, null, java.sql.Date.valueOf("2024-03-04"), -2.25)
    ).asJava, src)
    // stream framing
    val bos = new java.io.ByteArrayOutputStream()
    ArrowCodec.write(bos, src, df.toLocalIterator().asScala, file = false)
    insertPayload("INSERT INTO graft_fmt.arr FORMAT ArrowStream", bos.toByteArray)
    // file framing
    val bos2 = new java.io.ByteArrayOutputStream()
    ArrowCodec.write(bos2, src, df.toLocalIterator().asScala, file = true)
    insertPayload("INSERT INTO graft_fmt.arr FORMAT Arrow", bos2.toByteArray)
    val back = Engine.execute(spark, """
      SELECT id, coalesce(s, '<null>') AS s, toString(d) AS d, v
      FROM graft_fmt.arr ORDER BY id, d""").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
    assert(back.toSeq === Seq(
      (1L, "α", "2024-01-02", 1.5), (1L, "α", "2024-01-02", 1.5),
      (2L, "<null>", "2024-03-04", -2.25), (2L, "<null>", "2024-03-04", -2.25)))
    // decode sees the written names + values
    val (names, rows) = ArrowCodec.decode(bos.toByteArray, file = false)
    assert(names === Seq("id", "s", "d", "v"))
    assert(rows.length === 2 && rows(1)(1) === null)
  }

  test("ORC INSERT round-trip: export a file, bulk-load, select back") {
    import graft.dialect.Engine
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_fmt")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_fmt.orc1")
    Engine.execute(spark,
      "CREATE TABLE graft_fmt.orc1 (id Int64, s String, f Float64) ENGINE=Memory")
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc_spec")
    q("SELECT number AS id, toString(number) AS s, number * 1.5 AS f " +
      "FROM numbers(100)").coalesce(1).write.mode("overwrite").orc(tmp.toString)
    val part = tmp.toFile.listFiles().find(_.getName.endsWith(".orc")).get
    insertPayload("INSERT INTO graft_fmt.orc1 FORMAT ORC",
      java.nio.file.Files.readAllBytes(part.toPath))
    val back = Engine.execute(spark,
      "SELECT count() AS n, sum(id) AS s, max(f) AS m FROM graft_fmt.orc1")
      .collect().head
    assert(back.getLong(0) === 100L)
    assert(back.getLong(1) === 4950L)
    assert(back.getDouble(2) === 148.5)
    tmp.toFile.listFiles().foreach(_.delete())
    java.nio.file.Files.deleteIfExists(tmp)
  }

  test("TSKV round-trip: name=value input maps columns, output escapes") {
    import graft.dialect.Engine
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_fmt")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_fmt.kvfmt")
    Engine.execute(spark,
      "CREATE TABLE graft_fmt.kvfmt (id Int64, s String) ENGINE=Memory")
    // pairs in any order; a line missing a column leaves it NULL
    Engine.execute(spark,
      "INSERT INTO graft_fmt.kvfmt FORMAT TSKV\n" +
        "id=1\ts=hello\ns=solo\tid=2\nid=3")
    val rows = Engine.execute(spark,
      "SELECT id, s FROM graft_fmt.kvfmt ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0),
      if (r.isNullAt(1)) null else r.getString(1))).toSeq ===
      Seq((1L, "hello"), (2L, "solo"), (3L, null)))
    val out = ResultFormatter.render(Engine.execute(spark,
      "SELECT id, s FROM graft_fmt.kvfmt WHERE id = 1"), "TSKV")
    assert(out === "id=1\ts=hello\n")
  }

  test("LineAsString INSERT: raw lines land verbatim (LLM-corpus ingest)") {
    import graft.dialect.Engine
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_fmt")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_fmt.rawdoc")
    Engine.execute(spark,
      "CREATE TABLE graft_fmt.rawdoc (t String) ENGINE=Memory")
    // no unescaping: the two-char sequence backslash-t stays two chars
    Engine.execute(spark,
      "INSERT INTO graft_fmt.rawdoc FORMAT LineAsString\n" +
        "first line, no \\t unescaping\nsecond")
    val vals = Engine.execute(spark,
      "SELECT t FROM graft_fmt.rawdoc ORDER BY t").collect()
      .map(_.getString(0)).toSeq
    assert(vals === Seq("first line, no \\t unescaping", "second"))
    // output side: single-column rows render as raw lines
    assert(ResultFormatter.render(Engine.execute(spark,
      "SELECT t FROM graft_fmt.rawdoc ORDER BY t"), "LineAsString") ===
      "first line, no \\t unescaping\nsecond\n")
    // more than one column refuses loudly
    assertThrows[Exception](ResultFormatter.render(Engine.execute(spark,
      "SELECT 1 AS a, 2 AS b"), "LineAsString"))
  }

  test("JSONAsString INSERT: each top-level object is one verbatim row") {
    import graft.dialect.Engine
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_fmt")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_fmt.jdoc")
    Engine.execute(spark,
      "CREATE TABLE graft_fmt.jdoc (j String) ENGINE=Memory")
    // braces inside strings must not split objects; objects may be
    // whitespace- or newline-separated
    Engine.execute(spark,
      "INSERT INTO graft_fmt.jdoc FORMAT JSONAsString\n" +
        """{"a": 1, "s": "x}y"} {"b": {"c": 2}}""" + "\n" +
        """{"d": "e\"}f"}""")
    val js = Engine.execute(spark,
      "SELECT j FROM graft_fmt.jdoc ORDER BY j").collect()
      .map(_.getString(0)).toSeq
    assert(js === Seq("""{"a": 1, "s": "x}y"}""", """{"b": {"c": 2}}""",
      """{"d": "e\"}f"}""").sorted)
    // the verbatim text parses downstream with the JSON functions
    val a = Engine.execute(spark,
      "SELECT sum(coalesce(JSONExtractInt(j, 'a'), 0)) AS s FROM graft_fmt.jdoc")
      .collect().head.getLong(0)
    assert(a === 1L)
  }

  test("RawBLOB: whole payload is one value; output concatenates raw") {
    import graft.dialect.Engine
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_fmt")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_fmt.blob")
    Engine.execute(spark,
      "CREATE TABLE graft_fmt.blob (b String) ENGINE=Memory")
    Engine.execute(spark,
      "INSERT INTO graft_fmt.blob FORMAT RawBLOB\nmulti\nline\npayload")
    val rows = Engine.execute(spark, "SELECT b FROM graft_fmt.blob").collect()
    assert(rows.length === 1)
    assert(rows.head.getString(0) === "multi\nline\npayload")
    assert(ResultFormatter.render(Engine.execute(spark,
      "SELECT b FROM graft_fmt.blob"), "RawBLOB") === "multi\nline\npayload")
  }

  test("a text write that fails mid-stream still hands over the rows it rendered") {
    // two partitions: 0..4 stream out, then the second partition fails
    val df = spark.range(0, 10, 1, 2).toDF("id").where("assert_true(id < 5) IS NULL")
    val out = new java.io.ByteArrayOutputStream()
    intercept[Exception](graft.formats.Formats.write("TSV")(df, () => out))
    assert(out.toString("UTF-8") === "0\n1\n2\n3\n4\n")
  }
}
