package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.dialect.Engine

/** ClickHouse DDL lifecycle semantics + the partition-pruning plan
  * guarantee for materialized PARTITION BY. */
class DdlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("Memory-engine lifecycle: create, insert values, insert select, select") {
    graft.dialect.ChContext.setup(spark, "/root/testdata/sf0.001")
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.m")
    Engine.execute(spark,
      "CREATE TABLE graft_spec.m (id UInt32, name String) ENGINE=Memory")
    Engine.execute(spark, "INSERT INTO graft_spec.m VALUES (1, 'a'), (2, 'b')")
    Engine.execute(spark,
      "INSERT INTO graft_spec.m SELECT number + 5, 'n' FROM numbers(2)")
    val rows = Engine.execute(spark, "SELECT id FROM graft_spec.m ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(rows === Seq(1L, 2L, 5L, 6L))
  }

  test("USE db; query multi-statement prefix works (main.py:860-861)") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.u")
    Engine.execute(spark,
      "CREATE TABLE graft_spec.u (x Int32) ENGINE=Memory")
    Engine.execute(spark, "INSERT INTO graft_spec.u VALUES (42)")
    val df = Engine.execute(spark, "USE graft_spec; SELECT x FROM u")
    assert(df.collect().head.getInt(0) === 42)
    Engine.execute(spark, "USE default")
    // a `;` inside a literal or a comment ends no statement
    assert(Engine.execute(spark, "SELECT 'a\\';b' AS s")
      .collect().head.getString(0) === "a';b")
    assert(Engine.execute(spark, "SELECT 1 AS x -- trailing; comment")
      .collect().head.getInt(0) === 1)
  }

  test("MergeTree PARTITION BY prunes partitions in the scan plan") {
    graft.dialect.ChContext.setup(spark, "/root/testdata/sf0.001")
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.pt")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.pt (k Int64, d DateTime)
      ENGINE=MergeTree() PARTITION BY toYYYYMM(d) ORDER BY (k)""")
    Engine.execute(spark,
      "INSERT INTO graft_spec.pt SELECT o_orderkey, o_orderdate FROM orders")
    val pruned = Engine.execute(spark,
      "SELECT count() AS n FROM graft_spec.pt WHERE _part = 199601")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("_part"), plan)
    assert(pruned.collect().head.getLong(0) > 0)
  }

  test("FixedString and Decimal column types map in DDL") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.ty")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.ty (
        a FixedString(3), b Decimal(10, 2), c UInt64) ENGINE=Memory""")
    val schema = spark.table("graft_spec.ty").schema
    assert(schema.map(_.dataType.simpleString).toSeq ===
      Seq("string", "decimal(10,2)", "decimal(20,0)"))
  }

  test("ALTER TABLE DELETE / UPDATE mutations and OPTIMIZE no-op") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.mut")
    Engine.execute(spark,
      "CREATE TABLE graft_spec.mut (id Int64, v Int64) ENGINE=Memory")
    Engine.execute(spark,
      "INSERT INTO graft_spec.mut SELECT id, id * 10 FROM range(10)")
    Engine.execute(spark, "ALTER TABLE graft_spec.mut DELETE WHERE id >= 7")
    assert(spark.table("graft_spec.mut").count() === 7L)
    Engine.execute(spark,
      "ALTER TABLE graft_spec.mut UPDATE v = v + 1 WHERE id < 3")
    val vs = spark.table("graft_spec.mut").orderBy("id")
      .collect().map(_.getLong(1)).toSeq
    assert(vs === Seq(1L, 11L, 21L, 30L, 40L, 50L, 60L))
    // a comma inside a string literal belongs to its assignment
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.mut_s")
    Engine.execute(spark,
      "CREATE TABLE graft_spec.mut_s (id Int64, s String) ENGINE=Memory")
    Engine.execute(spark, "INSERT INTO graft_spec.mut_s VALUES (1, 'x'), (2, 'y')")
    Engine.execute(spark,
      "ALTER TABLE graft_spec.mut_s UPDATE s = 'a,b' WHERE id = 1")
    assert(spark.table("graft_spec.mut_s").orderBy("id").collect()
      .map(_.getString(1)).toSeq === Seq("a,b", "y"))
    Engine.execute(spark, "OPTIMIZE TABLE graft_spec.mut FINAL") // compaction
    assert(spark.table("graft_spec.mut").count() === 7L)
  }

  test("ALTER TABLE ADD COLUMN with ClickHouse type") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.addc")
    Engine.execute(spark, "CREATE TABLE graft_spec.addc (id Int64) ENGINE=Memory")
    Engine.execute(spark, "ALTER TABLE graft_spec.addc ADD COLUMN tag String")
    Engine.execute(spark, "ALTER TABLE graft_spec.addc ADD COLUMN IF NOT EXISTS tag String")
    assert(spark.table("graft_spec.addc").schema.map(_.name) === Seq("id", "tag"))
  }

  test("INTO OUTFILE writes the rendered result and still returns rows") {
    val f = java.nio.file.Files.createTempFile("graft_outfile", ".tsv")
    java.nio.file.Files.delete(f) // fresh path: default mode refuses existing
    val df = Engine.execute(spark,
      s"SELECT number, toString(number) AS s FROM numbers(3) " +
        s"INTO OUTFILE '${f.toString}' FORMAT CSV")
    assert(df.count() === 3L)
    val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    assert(text === "0,\"0\"\n1,\"1\"\n2,\"2\"\n" || text == "0,0\n1,1\n2,2\n", text)
    // existing file is refused unless APPEND/TRUNCATE (reference default)
    val err = intercept[IllegalArgumentException] {
      Engine.execute(spark,
        s"SELECT number FROM numbers(1) INTO OUTFILE '${f.toString}'")
    }
    assert(err.getMessage.contains("exists"), err.getMessage)
    Engine.execute(spark,
      s"SELECT number FROM numbers(2) INTO OUTFILE '${f.toString}' TRUNCATE FORMAT CSV")
    assert(new String(java.nio.file.Files.readAllBytes(f), "UTF-8") === "0\n1\n")
    Engine.execute(spark,
      s"SELECT number FROM numbers(1) INTO OUTFILE '${f.toString}' APPEND FORMAT CSV")
    assert(new String(java.nio.file.Files.readAllBytes(f), "UTF-8") === "0\n1\n0\n")
    java.nio.file.Files.delete(f)
  }

  test("reference hits DDL (test.yml:49) round-trips: Nested expansion + SAMPLE BY") {
    import graft.dialect.{Ddl, HitsFixture}
    HitsFixture.ensure(spark)
    val schema = spark.table("clickbench.hits").schema
    // every physical column in DDL order, Nested expanded to the
    // parallel dotted-array columns, plus the materialized _part
    assert(schema.map(_.name).filterNot(_ == "_part") === HitsFixture.columnNames)
    assert(schema("ParsedParams.Key1").dataType.simpleString === "array<string>")
    assert(schema("ParsedParams.ValueDouble").dataType.simpleString === "array<double>")
    assert(Ddl.sampleKey(spark, "clickbench.hits") === Some("intHash32(UserID)"))
    assert(spark.table("clickbench.hits").count() === HitsFixture.N.toLong)
    // dotted Nested access in ClickHouse query text resolves to the
    // expanded array column (transpiler backticks known prefixes)
    val k = Engine.execute(spark,
      "SELECT ParsedParams.Key1 AS k FROM clickbench.hits WHERE WatchID = 900000007")
      .collect().head.getSeq[String](0)
    assert(k === Seq("k2"))
    // the July range-filter scans only the 201307 partition's files
    val jul = Engine.execute(spark, """
      SELECT count() AS n FROM clickbench.hits
      WHERE _part = 201307 AND EventDate >= '2013-07-01'""")
    assert(jul.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("date predicates prune partitions through toYYYYMM (PartitionPruneFromDate)") {
    import graft.dialect.HitsFixture
    HitsFixture.ensure(spark)
    // the ClickBench July queries filter EventDate only — the optimizer
    // rule must derive the _part bounds (ClickHouse prunes parts through
    // the monotonic partition expression; a full scan here reads every
    // month at 100 TB)
    val df = Engine.execute(spark, """
      SELECT count() AS n FROM hits
      WHERE EventDate >= '2013-07-01' AND EventDate <= '2013-07-31'""")
    val plan = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*_part[^\\]]*201307".r
      .findFirstIn(plan).isDefined, plan)
    // prune must not change results: explicit-_part query agrees
    val n = df.collect().head.getLong(0)
    val expect = Engine.execute(spark, """
      SELECT count() AS n FROM hits
      WHERE _part = 201307 AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31'""")
      .collect().head.getLong(0)
    assert(n === expect && n > 0)
    // a single-day equality filter prunes to that month
    val day = Engine.execute(spark,
      "SELECT count() AS n FROM hits WHERE EventDate = '2013-06-05'")
    assert("PartitionFilters: \\[[^\\]]*_part[^\\]]*201306".r
      .findFirstIn(day.queryExecution.executedPlan.toString).isDefined)
    assert(day.collect().head.getLong(0) > 0)
    // toYYYYMMDD partitioning derives day-granular bounds
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.byday")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.byday (k Int64, d Date)
      ENGINE=MergeTree() PARTITION BY toYYYYMMDD(d) ORDER BY k""")
    Engine.execute(spark, "INSERT INTO graft_spec.byday SELECT o_orderkey, o_orderdate FROM orders")
    val dd = Engine.execute(spark, """
      SELECT count() AS n FROM graft_spec.byday
      WHERE d >= '1996-01-02' AND d < '1996-01-03'""")
    assert("PartitionFilters: \\[[^\\]]*_part[^\\]]*19960102".r
      .findFirstIn(dd.queryExecution.executedPlan.toString).isDefined,
      dd.queryExecution.executedPlan.toString.take(1500))
    assert(dd.collect().head.getLong(0) > 0)
  }

  test("SETTINGS max_result_rows=break truncates; unknown settings ignored") {
    graft.dialect.ChFunctions.register(spark)
    val r = Engine.execute(spark, """
      SELECT number FROM numbers(100)
      SETTINGS max_result_rows = 5, result_overflow_mode = 'break',
               some_unknown_knob = 1""").collect()
    assert(r.length === 5)
    // without break mode the limit is not applied (non-break default
    // is throw, which stays dropped)
    assert(Engine.execute(spark,
      "SELECT number FROM numbers(100) SETTINGS max_result_rows = 5")
      .collect().length === 100)
    // unknown-only settings still execute
    assert(Engine.execute(spark,
      "SELECT 1 AS x SETTINGS max_threads = 4").collect().head.getInt(0) === 1)
  }

  test("SETTINGS max_execution_time cancels an over-budget query") {
    graft.dialect.ChFunctions.register(spark)
    // ~minutes of codegen work on this box without the cancel
    val t0 = System.nanoTime()
    val e = intercept[Throwable] {
      Engine.execute(spark, """
        SELECT count() AS n FROM numbers(800000000000)
        SETTINGS max_execution_time = 1""").collect()
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(elapsed < 60, s"cancel did not fire, ran ${elapsed}s")
    assert(Option(e.getMessage).exists(_.toLowerCase.contains("cancel")),
      s"${e.getClass}: ${e.getMessage}")
    spark.sparkContext.clearJobGroup()
  }

  test("ORDER BY with call expressions sorts on insert (hits ORDER BY shape)") {
    graft.dialect.ChContext.setup(spark, "/root/testdata/sf0.001")
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.oexp")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.oexp (k Int64, u Int64, d DateTime)
      ENGINE=MergeTree() PARTITION BY toYYYYMM(d)
      ORDER BY (k, intHash32(u)) SETTINGS index_granularity=8192""")
    Engine.execute(spark,
      "INSERT INTO graft_spec.oexp SELECT o_orderkey, o_custkey, o_orderdate FROM orders")
    val n = Engine.execute(spark, "SELECT count() AS n FROM graft_spec.oexp")
      .collect().head.getLong(0)
    assert(n === spark.table("orders").count())
  }

  test("suffix clause scan: nested calls in ORDER BY, any clause order") {
    import graft.dialect.Ddl
    // two-level nesting (the old one-level regex silently dropped this)
    val c1 = Ddl.suffixClauses(
      "PARTITION BY toYYYYMM(d) ORDER BY (k, cityHash64(toString(u))) " +
        "SAMPLE BY intHash32(u) SETTINGS index_granularity=8192")
    assert(c1("ORDER BY") === "(k, cityHash64(toString(u)))")
    assert(c1("SAMPLE BY") === "intHash32(u)")
    assert(c1("PARTITION BY") === "toYYYYMM(d)")
    // clause order is free; keywords inside parens don't split clauses
    val c2 = Ddl.suffixClauses(
      "ORDER BY (if(a > 0, a, b), k) PARTITION BY toDate(d)")
    assert(c2("ORDER BY") === "(if(a > 0, a, b), k)")
    assert(c2("PARTITION BY") === "toDate(d)")
    // '_' is an identifier char: a column named user_settings must not
    // false-match SETTINGS (which would truncate the ORDER BY key)
    val c3 = Ddl.suffixClauses(
      "ORDER BY user_settings SETTINGS index_granularity=8192")
    assert(c3("ORDER BY") === "user_settings")
    assert(c3("SETTINGS") === "index_granularity=8192")
    val c4 = Ddl.suffixClauses("ORDER BY `my_order` PARTITION BY partition_id")
    assert(c4("ORDER BY") === "`my_order`")
    assert(c4("PARTITION BY") === "partition_id")
    // end-to-end: a two-level ORDER BY key creates and inserts
    graft.dialect.ChContext.setup(spark, "/root/testdata/sf0.001")
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.oexp2")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.oexp2 (k Int64, u Int64)
      ENGINE=MergeTree() ORDER BY (k, cityHash64(toString(u)))""")
    Engine.execute(spark,
      "INSERT INTO graft_spec.oexp2 SELECT o_orderkey, o_custkey FROM orders")
    assert(Engine.execute(spark, "SELECT count() AS n FROM graft_spec.oexp2")
      .collect().head.getLong(0) === spark.table("orders").count())
  }

  test("SAMPLE BY key: SAMPLE k reads the deterministic keyed subset") {
    import graft.dialect.Ddl
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.smp")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.smp (k Int64, u Int64)
      ENGINE=MergeTree() ORDER BY (k) SAMPLE BY u""")
    assert(Ddl.sampleKey(spark, "graft_spec.smp") === Some("u"))
    Engine.execute(spark,
      "INSERT INTO graft_spec.smp SELECT number, number FROM numbers(1000)")
    // u % 1000 < 100: exactly u in [0, 100) — and the SAME subset on
    // every query (the consistency SAMPLE BY promises)
    val r = Engine.execute(spark,
      "SELECT count() AS n, sum(u) AS s FROM graft_spec.smp SAMPLE 0.1")
      .collect().head
    assert(r.getLong(0) === 100L)
    assert(r.getLong(1) === (0 until 100).sum.toLong)
  }

  test("Enum8/Enum16/LowCardinality/UUID/Bool/Nested types map in DDL") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.ty2")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.ty2 (
        a Enum8('x' = 1, 'y' = 2), b LowCardinality(String), c UUID,
        d Bool, e Enum16('p' = 1, 'q' = 2), f Nested(k String, v Float64))
      ENGINE=Memory""")
    val schema = spark.table("graft_spec.ty2").schema
    assert(schema.map(f => f.name -> f.dataType.simpleString).toSeq === Seq(
      "a" -> "string", "b" -> "string", "c" -> "string", "d" -> "boolean",
      "e" -> "string", "f.k" -> "array<string>", "f.v" -> "array<double>"))
  }

  test("CREATE VIEW with ClickHouse-dialect body (session-scoped)") {
    Engine.execute(spark, """
      CREATE OR REPLACE VIEW v_n AS
      SELECT number, toString(number) AS s FROM numbers(4)""")
    val rows = spark.sql("SELECT count(*) FROM v_n").collect()
    assert(rows.head.getLong(0) === 4L)
    // MATERIALIZED ... POPULATE seeds the view's storage table
    Engine.execute(spark, "DROP TABLE IF EXISTS v_m")
    Engine.execute(spark, """
      CREATE MATERIALIZED VIEW v_m POPULATE AS
      SELECT number * 2 AS d FROM numbers(3)""")
    assert(spark.sql("SELECT sum(d) FROM v_m").collect().head.getLong(0) === 6L)
  }

  test("MATERIALIZED VIEW name collision: throws unless OR REPLACE") {
    Engine.execute(spark, "DROP TABLE IF EXISTS mv_clash")
    Engine.execute(spark,
      "CREATE TABLE mv_clash (x Int64) ENGINE=Memory")
    Engine.execute(spark, "INSERT INTO mv_clash VALUES (42)")
    // colliding CREATE must not destroy the user table's data
    val e = intercept[IllegalArgumentException](Engine.execute(spark,
      "CREATE MATERIALIZED VIEW mv_clash AS SELECT number FROM numbers(3)"))
    assert(e.getMessage.toLowerCase.contains("already exists"))
    assert(spark.sql("SELECT x FROM mv_clash").collect()
      .head.getLong(0) === 42L)
    // IF NOT EXISTS: silent no-op, data intact
    Engine.execute(spark, """CREATE MATERIALIZED VIEW IF NOT EXISTS mv_clash
      AS SELECT number FROM numbers(3)""")
    assert(spark.sql("SELECT x FROM mv_clash").collect()
      .head.getLong(0) === 42L)
    // OR REPLACE: explicit overwrite is allowed
    Engine.execute(spark, """CREATE OR REPLACE MATERIALIZED VIEW mv_clash
      POPULATE AS SELECT number AS n FROM numbers(3)""")
    assert(spark.table("mv_clash").count() === 3)
    Engine.execute(spark, "DROP TABLE mv_clash")
  }

  test("MATERIALIZED VIEW triggers on INSERT blocks (ClickHouse semantics)") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.mv_src")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.mv_agg")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.mv_src (k Int64, v Int64) ENGINE=Memory""")
    Engine.execute(spark,
      "INSERT INTO graft_spec.mv_src VALUES (1, 10)") // pre-MV: never flows
    Engine.execute(spark, """
      CREATE MATERIALIZED VIEW graft_spec.mv_agg AS
      SELECT k, count() AS n, sum(v) AS s FROM graft_spec.mv_src GROUP BY k""")
    // without POPULATE the target starts empty
    assert(spark.table("graft_spec.mv_agg").count() === 0)
    // each inserted block runs through the SELECT and appends
    Engine.execute(spark,
      "INSERT INTO graft_spec.mv_src VALUES (1, 1), (1, 2), (2, 5)")
    Engine.execute(spark, "INSERT INTO graft_spec.mv_src VALUES (2, 7)")
    val got = Engine.execute(spark, """
      SELECT k, n, s FROM graft_spec.mv_agg ORDER BY k, s""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // per-block partial aggregates: (1,2 rows,3) + (2,1,5) from block 1,
    // (2,1,7) from block 2; the pre-MV row never appears
    assert(got === Seq((1L, 2L, 3L), (2L, 1L, 5L), (2L, 1L, 7L)))
    // the reader-side rollup (the AggregatingMergeTree query pattern)
    val rolled = Engine.execute(spark, """
      SELECT k, sum(n) AS n, sum(s) AS s FROM graft_spec.mv_agg
      GROUP BY k ORDER BY k""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rolled === Seq((1L, 2L, 3L), (2L, 2L, 12L)))
    // INSERT ... SELECT and FORMAT payloads trigger too
    Engine.execute(spark,
      "INSERT INTO graft_spec.mv_src SELECT number + 10, number FROM numbers(2)")
    Engine.execute(spark, "INSERT INTO graft_spec.mv_src FORMAT CSV\n20,100")
    assert(spark.table("graft_spec.mv_agg").count() === 6)
    // TO target: transformed blocks land in an existing table
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.mv_tgt")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.mv_tgt (k Int64, doubled Int64) ENGINE=Memory""")
    Engine.execute(spark, """
      CREATE MATERIALIZED VIEW graft_spec.mv_to TO graft_spec.mv_tgt AS
      SELECT k, v * 2 AS doubled FROM graft_spec.mv_src""")
    Engine.execute(spark, "INSERT INTO graft_spec.mv_src VALUES (9, 9)")
    assert(Engine.execute(spark,
      "SELECT k, doubled FROM graft_spec.mv_tgt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((9L, 18L)))
    // DROP stops the trigger
    Engine.execute(spark, "DROP TABLE graft_spec.mv_agg")
    Engine.execute(spark, "INSERT INTO graft_spec.mv_src VALUES (3, 1)")
    assert(!spark.catalog.tableExists("graft_spec.mv_agg"))
  }

  test("ReplacingMergeTree: FINAL dedups on read, OPTIMIZE FINAL materializes") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.rmt")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.rmt (id Int64, v Int64, payload String)
      ENGINE=ReplacingMergeTree(v) ORDER BY id""")
    Engine.execute(spark, """
      INSERT INTO graft_spec.rmt VALUES
      (1, 1, 'old'), (1, 2, 'new'), (2, 1, 'only'), (3, 2, 'b'), (3, 1, 'a')""")
    // plain read sees all parts (ClickHouse pre-merge behavior)
    assert(Engine.execute(spark, "SELECT count() AS n FROM graft_spec.rmt")
      .collect().head.getLong(0) === 5L)
    // FINAL applies keep-latest (max version per sorting key)
    val fin = Engine.execute(spark, """
      SELECT id, payload FROM graft_spec.rmt FINAL ORDER BY id""")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(fin === Seq((1L, "new"), (2L, "only"), (3L, "b")))
    // OPTIMIZE ... FINAL materializes the merge
    Engine.execute(spark, "OPTIMIZE TABLE graft_spec.rmt FINAL")
    assert(Engine.execute(spark, "SELECT count() AS n FROM graft_spec.rmt")
      .collect().head.getLong(0) === 3L)
    assert(Engine.execute(spark,
      "SELECT payload FROM graft_spec.rmt WHERE id = 1")
      .collect().head.getString(0) === "new")
  }

  test("INTO OUTFILE FORMAT Parquet exports one readable parquet file") {
    graft.dialect.ChContext.setup(spark, "/root/testdata/sf0.001")
    val out = java.nio.file.Files.createTempDirectory("graft_pq")
      .resolve("nation.parquet").toString
    Engine.execute(spark,
      s"SELECT n_nationkey, n_name FROM nation INTO OUTFILE '$out' FORMAT Parquet")
    val back = spark.read.parquet(out)
    assert(back.count() === spark.table("nation").count())
    assert(back.columns.toSeq === Seq("n_nationkey", "n_name"))
    // APPEND is refused for a columnar single-file target
    val e = intercept[Exception] { Engine.execute(spark,
      s"SELECT 1 AS x INTO OUTFILE '$out' APPEND FORMAT Parquet") }
    assert(e.getMessage.contains("TRUNCATE, not APPEND"))
  }

  test("SummingMergeTree: FINAL sums numerics per key, others keep a value") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.smt")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.smt (k Int64, hits Int64, amt Float64, tag String)
      ENGINE=SummingMergeTree() ORDER BY k""")
    Engine.execute(spark, """
      INSERT INTO graft_spec.smt VALUES
      (1, 10, 1.5, 'a'), (1, 5, 0.5, 'a'), (2, 7, 2.0, 'b')""")
    val fin = Engine.execute(spark, """
      SELECT k, hits, amt FROM graft_spec.smt FINAL ORDER BY k""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(fin === Seq((1L, 15L, 2.0d), (2L, 7L, 2.0d)))
    // OPTIMIZE FINAL materializes; declared types survive the sum
    Engine.execute(spark, "OPTIMIZE TABLE graft_spec.smt FINAL")
    assert(Engine.execute(spark, "SELECT count() AS n FROM graft_spec.smt")
      .collect().head.getLong(0) === 2L)
    // explicit column list: only `hits` sums
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.smt2")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.smt2 (k Int64, hits Int64, amt Float64)
      ENGINE=SummingMergeTree(hits) ORDER BY k""")
    Engine.execute(spark,
      "INSERT INTO graft_spec.smt2 VALUES (1, 1, 9.0), (1, 2, 9.0)")
    val r2 = Engine.execute(spark,
      "SELECT hits, amt FROM graft_spec.smt2 FINAL").collect().head
    assert(r2.getLong(0) === 3L && r2.getDouble(1) === 9.0d)
  }

  test("SHOW/DESCRIBE/EXISTS answer in ClickHouse output shapes") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_intro")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_intro.it")
    Engine.execute(spark,
      "CREATE TABLE graft_intro.it (id UInt32, name String) ENGINE=Memory")

    val dbs = Engine.execute(spark, "SHOW DATABASES")
    assert(dbs.columns.toSeq === Seq("name"))
    assert(dbs.collect().map(_.getString(0)).contains("graft_intro"))

    val tabs = Engine.execute(spark, "SHOW TABLES FROM graft_intro")
    assert(tabs.columns.toSeq === Seq("name"))
    assert(tabs.collect().map(_.getString(0)).contains("it"))

    val desc = Engine.execute(spark, "DESCRIBE TABLE graft_intro.it")
    assert(desc.columns.take(2).toSeq === Seq("name", "type"))
    val byName = desc.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byName("id") === "Nullable(Int64)" || byName("id") === "Int64",
      byName.toString) // UInt32 widens to Int64 (SURVEY §1.2)
    assert(byName("name").contains("String"))

    assert(Engine.execute(spark, "EXISTS TABLE graft_intro.it")
      .collect().head.getShort(0) === 1)
    assert(Engine.execute(spark, "EXISTS TABLE graft_intro.nope")
      .collect().head.getShort(0) === 0)

    val stmt = Engine.execute(spark, "SHOW CREATE TABLE graft_intro.it")
    assert(stmt.columns.toSeq === Seq("statement"))
    assert(stmt.collect().head.getString(0).toLowerCase.contains("create table"))
  }

  test("ALTER TABLE DROP/RENAME/MODIFY COLUMN reshape copy-on-write") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.ac")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.ac (k Int64, v String, extra Int32)
      ENGINE=MergeTree() ORDER BY (k)""")
    Engine.execute(spark,
      "INSERT INTO graft_spec.ac SELECT number, toString(number), 7 FROM numbers(5)")

    Engine.execute(spark, "ALTER TABLE graft_spec.ac DROP COLUMN extra")
    assert(spark.table("graft_spec.ac").columns.toSeq === Seq("k", "v"))

    Engine.execute(spark, "ALTER TABLE graft_spec.ac RENAME COLUMN v TO label")
    assert(spark.table("graft_spec.ac").columns.toSeq === Seq("k", "label"))

    Engine.execute(spark, "ALTER TABLE graft_spec.ac MODIFY COLUMN label Int64")
    val rows = Engine.execute(spark,
      "SELECT k, label FROM graft_spec.ac ORDER BY k").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L, 4L))
    assert(rows.map(_.getLong(1)).toSeq === Seq(0L, 1L, 2L, 3L, 4L))

    // IF EXISTS on a missing column is a no-op; without it Spark errors
    Engine.execute(spark,
      "ALTER TABLE graft_spec.ac DROP COLUMN IF EXISTS nope")
    assert(spark.table("graft_spec.ac").columns.length === 2)

    // key columns refuse ALTER, like ClickHouse ("Trying to ALTER key column")
    val e = intercept[IllegalArgumentException] {
      Engine.execute(spark, "ALTER TABLE graft_spec.ac DROP COLUMN k")
    }
    assert(e.getMessage.contains("key"))
  }

  test("ALTER reshape keeps the _part layout on a partitioned table") {
    graft.dialect.ChContext.setup(spark, "/root/testdata/sf0.001")
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.rp")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.rp (k Int64, d DateTime, junk Int32)
      ENGINE=MergeTree() PARTITION BY toYYYYMM(d) ORDER BY (k)""")
    Engine.execute(spark,
      "INSERT INTO graft_spec.rp SELECT o_orderkey, o_orderdate, 1 FROM orders")
    val before = Engine.execute(spark,
      "SELECT count() FROM graft_spec.rp").collect().head.getLong(0)
    Engine.execute(spark, "ALTER TABLE graft_spec.rp DROP COLUMN junk")
    val pruned = Engine.execute(spark,
      "SELECT count() AS n FROM graft_spec.rp WHERE _part = 199601")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(Engine.execute(spark, "SELECT count() FROM graft_spec.rp")
      .collect().head.getLong(0) === before)
  }

  test("RENAME TABLE moves the table and its MergeTree metadata") {
    graft.dialect.ChContext.setup(spark, "/root/testdata/sf0.001")
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.rt")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.rt2")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.rt (k Int64, d DateTime)
      ENGINE=MergeTree() PARTITION BY toYYYYMM(d) ORDER BY (k)""")
    Engine.execute(spark,
      "INSERT INTO graft_spec.rt SELECT o_orderkey, o_orderdate FROM orders")
    Engine.execute(spark, "RENAME TABLE graft_spec.rt TO graft_spec.rt2")
    assert(!spark.catalog.tableExists("graft_spec.rt"))
    // the partition metadata followed the rename: new INSERTs compute _part
    Engine.execute(spark, """
      INSERT INTO graft_spec.rt2
      SELECT o_orderkey + 10000000, o_orderdate FROM orders LIMIT 10""")
    val parts = Engine.execute(spark,
      "SELECT count(DISTINCT _part) AS n FROM graft_spec.rt2")
      .collect().head
    assert(parts.getLong(0) > 1)
  }

  test("system.parts lists live partitions with rows and bytes") {
    graft.dialect.ChContext.setup(spark, "/root/testdata/sf0.001")
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.sp")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.sp (k Int64, d DateTime)
      ENGINE=MergeTree() PARTITION BY toYYYYMM(d) ORDER BY (k)""")
    Engine.execute(spark,
      "INSERT INTO graft_spec.sp SELECT o_orderkey, o_orderdate FROM orders")
    val parts = Engine.execute(spark, """
      SELECT partition, rows, bytes_on_disk, engine FROM system.parts
      WHERE table = 'sp' AND database = 'graft_spec' ORDER BY partition""")
      .collect()
    assert(parts.nonEmpty)
    assert(parts.forall(_.getLong(1) > 0))            // rows per partition
    assert(parts.forall(_.getLong(2) > 0))            // bytes on disk
    assert(parts.forall(_.getString(3) === "MergeTree"))
    val total = parts.map(_.getLong(1)).sum
    val n = Engine.execute(spark, "SELECT count() FROM graft_spec.sp")
      .collect().head.getLong(0)
    assert(total === n) // partitions partition the table
    // a partitioned table has many monthly parts over the orders range
    assert(parts.length > 10)
  }

  test("TTL rows expire on OPTIMIZE, not before (merge-applied, like ClickHouse)") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.ttl_t")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.ttl_t (k Int64, d DateTime)
      ENGINE=MergeTree() ORDER BY k TTL d + INTERVAL 30 DAY DELETE""")
    Engine.execute(spark, """
      INSERT INTO graft_spec.ttl_t VALUES
      (1, '2000-01-01 00:00:00'), (2, '2099-01-01 00:00:00')""")
    // pre-merge reads still see expired rows (ClickHouse behavior)
    assert(Engine.execute(spark,
      "SELECT count() AS n FROM graft_spec.ttl_t")
      .collect().head.getLong(0) === 2L)
    Engine.execute(spark, "OPTIMIZE TABLE graft_spec.ttl_t FINAL")
    val left = Engine.execute(spark,
      "SELECT k FROM graft_spec.ttl_t ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(left === Seq(2L))
  }

  test("ALTER TABLE MODIFY/REMOVE TTL changes what the next merge drops") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.ttl_alter")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.ttl_alter (k Int64, d DateTime)
      ENGINE=MergeTree() ORDER BY k""")
    Engine.execute(spark, """
      INSERT INTO graft_spec.ttl_alter VALUES
      (1, '2000-01-01 00:00:00'), (2, '2099-01-01 00:00:00')""")
    def rows() = Engine.execute(spark,
      "SELECT k FROM graft_spec.ttl_alter ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    // no TTL: merge keeps everything
    Engine.execute(spark, "OPTIMIZE TABLE graft_spec.ttl_alter FINAL")
    assert(rows() === Seq(1L, 2L))
    Engine.execute(spark,
      "ALTER TABLE graft_spec.ttl_alter MODIFY TTL d + INTERVAL 30 DAY DELETE")
    Engine.execute(spark, "OPTIMIZE TABLE graft_spec.ttl_alter FINAL")
    assert(rows() === Seq(2L))
    // REMOVE TTL: an expired row inserted afterwards survives merges
    Engine.execute(spark, "ALTER TABLE graft_spec.ttl_alter REMOVE TTL")
    Engine.execute(spark,
      "INSERT INTO graft_spec.ttl_alter VALUES (3, '2000-01-01 00:00:00')")
    Engine.execute(spark, "OPTIMIZE TABLE graft_spec.ttl_alter FINAL")
    assert(rows() === Seq(2L, 3L))
  }

  test("TTL breadth: TO VOLUME/DISK clauses parse as no-ops, SHOW CREATE round-trips, column TTL refused") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.ttl_full")
    // the full hits-style TTL tail: DELETE expiry + movement clauses
    Engine.execute(spark, """
      CREATE TABLE graft_spec.ttl_full (k Int64, d DateTime)
      ENGINE=MergeTree() ORDER BY k
      TTL d + INTERVAL 30 DAY DELETE,
          d + INTERVAL 7 DAY TO VOLUME 'cold',
          d + INTERVAL 1 DAY TO DISK 'ssd'""")
    Engine.execute(spark, """
      INSERT INTO graft_spec.ttl_full VALUES
      (1, '2000-01-01 00:00:00'), (2, '2099-01-01 00:00:00')""")
    // movement clauses are no-ops (single storage tier); the DELETE
    // expiry still drives the merge
    Engine.execute(spark, "OPTIMIZE TABLE graft_spec.ttl_full FINAL")
    assert(Engine.execute(spark, "SELECT k FROM graft_spec.ttl_full")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // SHOW CREATE round-trips the effective TTL and re-executes
    val stmt = Engine.execute(spark, "SHOW CREATE TABLE graft_spec.ttl_full")
      .collect().head.getString(0)
    assert(stmt.contains("TTL d + INTERVAL 30 DAY"), stmt)
    Engine.execute(spark, "DROP TABLE graft_spec.ttl_full SYNC")
    Engine.execute(spark, stmt)
    assert(Engine.execute(spark, "SHOW CREATE TABLE graft_spec.ttl_full")
      .collect().head.getString(0).contains("TTL d + INTERVAL 30 DAY"),
      "re-executing SHOW CREATE output must preserve the TTL")
    Engine.execute(spark, "DROP TABLE graft_spec.ttl_full SYNC")
    // movement-only TTL: accepted, nothing for merges to apply
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.ttl_mv")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.ttl_mv (k Int64, d DateTime)
      ENGINE=MergeTree() ORDER BY k TTL d + INTERVAL 7 DAY TO VOLUME 'cold'""")
    Engine.execute(spark,
      "INSERT INTO graft_spec.ttl_mv VALUES (1, '2000-01-01 00:00:00')")
    Engine.execute(spark, "OPTIMIZE TABLE graft_spec.ttl_mv FINAL")
    assert(Engine.execute(spark, "SELECT count() AS n FROM graft_spec.ttl_mv")
      .collect().head.getLong(0) == 1L)
    Engine.execute(spark, "DROP TABLE graft_spec.ttl_mv SYNC")
    // column-level TTL and GROUP BY TTL actions refuse loudly
    val e1 = intercept[Exception](Engine.execute(spark, """
      CREATE TABLE graft_spec.ttl_col (k Int64, v String TTL d + INTERVAL 1 DAY,
        d DateTime) ENGINE=MergeTree() ORDER BY k"""))
    assert(e1.getMessage.contains("column-level TTL"))
    val e2 = intercept[Exception](Engine.execute(spark, """
      CREATE TABLE graft_spec.ttl_gb (k Int64, v Int64, d DateTime)
      ENGINE=MergeTree() ORDER BY k
      TTL d + INTERVAL 1 DAY GROUP BY k SET v = sum(v)"""))
    assert(e2.getMessage.contains("unsupported TTL action"))
  }

  test("column CODEC/COMMENT decorations parse; table COMMENT; CREATE TABLE AS clones structure") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.deco")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.deco2")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.deco3")
    // the real-world hits-style column tail: type + DEFAULT + COMMENT +
    // CODEC in one definition, plus a table-level COMMENT
    Engine.execute(spark, """
      CREATE TABLE graft_spec.deco (
        id Int64 CODEC(Delta, ZSTD(3)),
        st String DEFAULT 'q' COMMENT 'state col' CODEC(LZ4),
        note String COMMENT 'it''s free-form',
        memo String COMMENT 'hello, world')
      ENGINE=MergeTree() ORDER BY (id)
      COMMENT 'decorated table'""")
    val d = Engine.execute(spark, "DESCRIBE TABLE graft_spec.deco").collect()
      .map(r => r.getString(0) -> (r.getString(2), r.getString(3), r.getString(4))).toMap
    assert(d("st") == (("DEFAULT", "'q'", "state col")))
    assert(d("note")._3 == "it's free-form")
    assert(d("memo")._3 == "hello, world")
    assert(d("id") == (("", "", "")))
    val stmt = Engine.execute(spark, "SHOW CREATE TABLE graft_spec.deco")
      .collect().head.getString(0)
    assert(stmt.contains("DEFAULT 'q' COMMENT 'state col'"), stmt)
    assert(stmt.contains("COMMENT 'decorated table'"), stmt)
    // CODEC is a documented no-op: not round-tripped, data unaffected
    Engine.execute(spark, "INSERT INTO graft_spec.deco (id) VALUES (1)")
    assert(Engine.execute(spark,
      "SELECT st FROM graft_spec.deco").collect().head.getString(0) == "q")
    // clone: structure (defaults, comments, engine tail) — no data
    Engine.execute(spark, "CREATE TABLE graft_spec.deco2 AS graft_spec.deco")
    assert(Engine.execute(spark, "SELECT count() AS n FROM graft_spec.deco2")
      .collect().head.getLong(0) == 0L, "a clone copies structure, never data")
    Engine.execute(spark, "INSERT INTO graft_spec.deco2 (id) VALUES (7)")
    assert(Engine.execute(spark,
      "SELECT st FROM graft_spec.deco2").collect().head.getString(0) == "q",
      "the clone inherits column DEFAULTs")
    assert(Engine.execute(spark, "SHOW CREATE TABLE graft_spec.deco2")
      .collect().head.getString(0).contains("COMMENT 'state col'"))
    // IF NOT EXISTS form is a no-op on an existing clone
    Engine.execute(spark,
      "CREATE TABLE IF NOT EXISTS graft_spec.deco2 AS graft_spec.deco")
    assert(Engine.execute(spark, "SELECT count() AS n FROM graft_spec.deco2")
      .collect().head.getLong(0) == 1L)
    // engine override replaces the engine tail
    Engine.execute(spark,
      "CREATE TABLE graft_spec.deco3 AS graft_spec.deco ENGINE=Memory")
    assert(Engine.execute(spark, "SHOW CREATE TABLE graft_spec.deco3")
      .collect().head.getString(0).contains("ENGINE = Memory"))
    // system.tables carries engine + comment (what DBeaver-style
    // clients list)
    val st = Engine.execute(spark, """
      SELECT engine, comment FROM system.tables
      WHERE database = 'graft_spec' AND name = 'deco'""").collect().head
    assert(st.getString(0) == "MergeTree" && st.getString(1) == "decorated table")
    // cloning a missing table errors
    intercept[Exception](Engine.execute(spark,
      "CREATE TABLE graft_spec.deco4 AS graft_spec.nope"))
    Seq("deco", "deco2", "deco3").foreach(t =>
      Engine.execute(spark, s"DROP TABLE graft_spec.$t SYNC"))
  }

  test("OPTIMIZE TABLE ... PARTITION scopes the merge to one partition") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.optp SYNC")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.optp (k Int64, v Int64, d Date)
      ENGINE=ReplacingMergeTree(v) PARTITION BY toYYYYMM(d) ORDER BY (k)""")
    // duplicate keys in BOTH monthly partitions
    Engine.execute(spark, """
      INSERT INTO graft_spec.optp VALUES
      (1, 1, '2024-01-10'), (1, 2, '2024-01-20'),
      (2, 1, '2024-02-10'), (2, 2, '2024-02-20')""")
    Engine.execute(spark, "OPTIMIZE TABLE graft_spec.optp PARTITION 202401 FINAL")
    // January merged (keep-latest), February untouched — a scoped
    // OPTIMIZE must never rewrite the rest of the table
    val counts = Engine.execute(spark, """
      SELECT _part AS p, count() AS n FROM graft_spec.optp
      GROUP BY p ORDER BY p""").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(counts == Seq((202401, 1L), (202402, 2L)), counts.toString)
    assert(Engine.execute(spark, """
      SELECT v FROM graft_spec.optp WHERE _part = 202401""")
      .collect().head.getLong(0) == 2L, "the partition merge keeps max version")
    // a TTL that expires an entire partition DROPS it under the scoped
    // form (and leaves the other partition alone)
    Engine.execute(spark,
      "ALTER TABLE graft_spec.optp MODIFY TTL d + INTERVAL 30 DAY")
    Engine.execute(spark, "OPTIMIZE TABLE graft_spec.optp PARTITION 202401 FINAL")
    val left = Engine.execute(spark, """
      SELECT _part AS p, count() AS n FROM graft_spec.optp
      GROUP BY p ORDER BY p""").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(left == Seq((202402, 2L)), left.toString)
    Engine.execute(spark, "DROP TABLE graft_spec.optp SYNC")
  }

  test("FINAL merges within partitions only (ClickHouse semantics)") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.pfin SYNC")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.pfin (k Int64, v Int64, d Date)
      ENGINE=ReplacingMergeTree(v) PARTITION BY toYYYYMM(d) ORDER BY (k)""")
    // the SAME key in two partitions: CH FINAL keeps one row PER
    // PARTITION — cross-partition rows never merge
    Engine.execute(spark, """
      INSERT INTO graft_spec.pfin VALUES
      (1, 1, '2024-01-10'), (1, 2, '2024-01-20'),
      (1, 5, '2024-02-10')""")
    val rows = Engine.execute(spark, """
      SELECT _part AS p, v FROM graft_spec.pfin FINAL ORDER BY p""")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(rows == Seq((202401, 2L), (202402, 5L)),
      s"FINAL must keep one row per (partition, key): $rows")
    // partitioned SummingMergeTree: sums stay partition-local and the
    // partition column itself is never summed
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.psum SYNC")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.psum (k Int64, hits Int64, d Date)
      ENGINE=SummingMergeTree(hits) PARTITION BY toYYYYMM(d) ORDER BY (k)""")
    Engine.execute(spark, """
      INSERT INTO graft_spec.psum VALUES
      (1, 10, '2024-01-10'), (1, 5, '2024-01-20'), (1, 7, '2024-02-10')""")
    Engine.execute(spark, "OPTIMIZE TABLE graft_spec.psum FINAL")
    val sums = Engine.execute(spark, """
      SELECT _part AS p, hits FROM graft_spec.psum ORDER BY p""")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(sums == Seq((202401, 15L), (202402, 7L)), sums.toString)
    Engine.execute(spark, "DROP TABLE graft_spec.pfin SYNC")
    Engine.execute(spark, "DROP TABLE graft_spec.psum SYNC")
  }

  test("ALTER UPDATE/DELETE IN PARTITION rewrite only the named partition") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.mutp SYNC")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.mutp (k Int64, v Int64, d Date)
      ENGINE=MergeTree() PARTITION BY toYYYYMM(d) ORDER BY (k)""")
    Engine.execute(spark, """
      INSERT INTO graft_spec.mutp VALUES
      (1, 10, '2024-01-10'), (2, 10, '2024-01-20'),
      (3, 10, '2024-02-10'), (4, 10, '2024-02-20')""")
    // the WHERE is true everywhere, but IN PARTITION confines the write
    Engine.execute(spark, """
      ALTER TABLE graft_spec.mutp UPDATE v = v + 1
      IN PARTITION 202401 WHERE v = 10""")
    assert(Engine.execute(spark, """
      SELECT sum(v) AS s FROM graft_spec.mutp""").collect().head.getLong(0)
      == 42L, "11+11+10+10: only January rows updated")
    // updating a partition-source column under IN PARTITION would move
    // rows into another partition that the scoped overwrite would then
    // clobber — refused, like ClickHouse's partition-key-update ban
    val e = intercept[Exception](Engine.execute(spark, """
      ALTER TABLE graft_spec.mutp UPDATE d = toDate('2024-03-01')
      IN PARTITION 202401 WHERE v > 0"""))
    assert(e.getMessage.contains("PARTITION BY"), e.getMessage)
    Engine.execute(spark, """
      ALTER TABLE graft_spec.mutp DELETE IN PARTITION 202402 WHERE v = 10""")
    val left = Engine.execute(spark,
      "SELECT k FROM graft_spec.mutp ORDER BY k").collect().map(_.getLong(0))
    assert(left.toSeq == Seq(1L, 2L), "only February rows deleted")
    Engine.execute(spark, "DROP TABLE graft_spec.mutp SYNC")
  }

  test("system.processes lists tagged queries; KILL QUERY retires them") {
    // observer runs on its OWN thread, like a second connection — a
    // same-thread probe would retire the victim's entry first (the
    // one-query-per-thread hygiene in beginQuery)
    def onThread[T](f: => T): T = {
      var out: Option[T] = None; var err: Option[Throwable] = None
      val t = new Thread(() =>
        try out = Some(f) catch { case e: Throwable => err = Some(e) })
      t.start(); t.join()
      err.foreach(throw _); out.get
    }
    val qid = s"spec_kill_${System.nanoTime()}"
    // a SELECT stays listed after execute() returns (its lazy tail may
    // still be streaming)
    Engine.execute(spark, "SELECT number FROM numbers(5)", "alice", Some(qid))
    val procs = onThread(Engine.execute(spark,
      s"SELECT query_id, user FROM system.processes WHERE query_id = '$qid'")
      .collect())
    assert(procs.length === 1)
    assert(procs.head.getString(1) === "alice")
    // KILL QUERY matches on any processes column, returns CH's shape,
    // and removes the entry
    val killed = onThread(Engine.execute(spark,
      s"KILL QUERY WHERE query_id = '$qid' SYNC"))
    assert(killed.columns.toSeq ===
      Seq("kill_status", "query_id", "user", "query"))
    val kr = killed.collect()
    assert(kr.length === 1 && kr.head.getString(1) === qid)
    assert(onThread(Engine.execute(spark,
      s"SELECT query_id FROM system.processes WHERE query_id = '$qid'")
      .collect()).isEmpty)
    // killing an already-gone id returns zero rows, not an error
    assert(onThread(Engine.execute(spark,
      s"KILL QUERY WHERE query_id = '$qid'").collect()).isEmpty)
    // a new query on a thread retires that thread's previous entry
    val q2 = s"${qid}_b"
    Engine.execute(spark, "SELECT 1", "bob", Some(q2))
    Engine.execute(spark, "SELECT 2", "bob", Some(s"${qid}_c"))
    assert(onThread(Engine.execute(spark,
      s"SELECT query_id FROM system.processes WHERE query_id = '$q2'")
      .collect()).isEmpty)
  }

  test("CREATE DICTIONARY: dictGet/dictHas lookups, defaults, RELOAD, DROP") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.dim_src")
    Engine.execute(spark,
      "CREATE TABLE graft_spec.dim_src (id UInt64, name String) ENGINE=Memory")
    Engine.execute(spark,
      "INSERT INTO graft_spec.dim_src VALUES (1, 'one'), (2, 'two')")
    Engine.execute(spark, "DROP DICTIONARY IF EXISTS d_spec")
    Engine.execute(spark, """
      CREATE DICTIONARY d_spec (id UInt64, name String DEFAULT '?')
      PRIMARY KEY id
      SOURCE(CLICKHOUSE(TABLE 'graft_spec.dim_src'))
      LAYOUT(FLAT()) LIFETIME(300)""")
    val r = Engine.execute(spark, """
      SELECT dictGet('d_spec', 'name', number) AS nm,
             dictHas('d_spec', number) AS h
      FROM numbers(4) ORDER BY number""").collect()
    assert(r.map(_.getString(0)).toSeq === Seq("?", "one", "two", "?"))
    assert(r.map(_.getShort(1)).toSeq === Seq[Short](0, 1, 1, 0))
    // loaded maps cache: a source insert is invisible until RELOAD
    // (the LIFETIME pull model)
    Engine.execute(spark, "INSERT INTO graft_spec.dim_src VALUES (3, 'three')")
    assert(Engine.execute(spark,
      "SELECT dictGet('d_spec', 'name', 3)").collect().head.getString(0) === "?")
    Engine.execute(spark, "SYSTEM RELOAD DICTIONARY d_spec")
    assert(Engine.execute(spark,
      "SELECT dictGet('d_spec', 'name', 3)").collect().head.getString(0) === "three")
    // the dictionary's table face and the system registry
    assert(Engine.execute(spark,
      "SELECT count() FROM d_spec").collect().head.getLong(0) === 3L)
    val sys = Engine.execute(spark,
      "SELECT name, status FROM system.dictionaries WHERE name = 'd_spec'")
      .collect()
    assert(sys.length === 1 && sys.head.getString(1) === "LOADED")
    // unknown attribute and composite keys fail loudly
    assertThrows[Exception](Engine.execute(spark,
      "SELECT dictGet('d_spec', 'nope', 1)"))
    assertThrows[Exception](Engine.execute(spark, """
      CREATE DICTIONARY d_bad (a UInt64, b UInt64, v String)
      PRIMARY KEY a, b SOURCE(CLICKHOUSE(TABLE 'graft_spec.dim_src'))"""))
    // other SYSTEM verbs are accepted no-ops
    Engine.execute(spark, "SYSTEM FLUSH LOGS")
    Engine.execute(spark, "DROP DICTIONARY d_spec")
    assertThrows[Exception](Engine.execute(spark,
      "SELECT dictGet('d_spec', 'name', 1)"))
  }

  test("LIFETIME drives staleness: past MAX the next lookup re-loads lazily; system.dictionaries shows the timestamps") {
    import graft.dialect.Dictionaries
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.dim_lt")
    Engine.execute(spark,
      "CREATE TABLE graft_spec.dim_lt (id UInt64, name String) ENGINE=Memory")
    Engine.execute(spark, "INSERT INTO graft_spec.dim_lt VALUES (1, 'a')")
    Engine.execute(spark, "DROP DICTIONARY IF EXISTS d_lt")
    Engine.execute(spark, """
      CREATE DICTIONARY d_lt (id UInt64, name String DEFAULT '?')
      PRIMARY KEY id
      SOURCE(CLICKHOUSE(TABLE 'graft_spec.dim_lt'))
      LAYOUT(HASHED()) LIFETIME(MIN 60 MAX 120)""")
    // not loaded yet: no last_successful_update_time
    val pre = Engine.execute(spark, """
      SELECT status, lifetime_min, lifetime_max, last_successful_update_time
      FROM system.dictionaries WHERE name = 'd_lt'""").collect().head
    assert(pre.getString(0) == "NOT_LOADED" && pre.isNullAt(3))
    assert(pre.getLong(1) == 60L && pre.getLong(2) == 120L)
    // first lookup materializes and stamps the load time
    assert(Engine.execute(spark, "SELECT dictGet('d_lt', 'name', 1)")
      .collect().head.getString(0) == "a")
    val t1 = Engine.execute(spark, """
      SELECT last_successful_update_time FROM system.dictionaries
      WHERE name = 'd_lt'""").collect().head.getTimestamp(0)
    assert(t1 != null)
    // inside the window the cache holds: a source change is invisible
    Engine.execute(spark, "INSERT INTO graft_spec.dim_lt VALUES (2, 'b')")
    assert(Engine.execute(spark, "SELECT dictGet('d_lt', 'name', 2)")
      .collect().head.getString(0) == "?")
    // backdate the load past MAX (instead of sleeping 2 minutes): the
    // next lookup must drop the cache and re-read the source
    Dictionaries.loadTimes.put("d_lt", System.currentTimeMillis() - 121000L)
    assert(Engine.execute(spark, "SELECT dictGet('d_lt', 'name', 2)")
      .collect().head.getString(0) == "b",
      "a stale read past LIFETIME MAX must re-load lazily")
    val t2 = Engine.execute(spark, """
      SELECT last_successful_update_time FROM system.dictionaries
      WHERE name = 'd_lt'""").collect().head.getTimestamp(0)
    assert(t2.getTime > System.currentTimeMillis() - 60000L,
      "the re-load must refresh last_successful_update_time")
    // SYSTEM RELOAD also refreshes the timestamp on the next lookup
    val before = Dictionaries.loadTimes("d_lt")
    Engine.execute(spark, "SYSTEM RELOAD DICTIONARY d_lt")
    Engine.execute(spark, "SELECT dictGet('d_lt', 'name', 1)").collect()
    assert(Dictionaries.loadTimes("d_lt") >= before)
    Engine.execute(spark, "DROP DICTIONARY d_lt")
    Engine.execute(spark, "DROP TABLE graft_spec.dim_lt SYNC")
  }

  test("a >1M-row DICTIONARY takes the join path under the DEFAULT cap") {
    // guards the literal↔join crossover itself: the default maxEntries
    // must be low enough that a 1M+ source never becomes a driver-side
    // collect + giant Literal (r10 shipped 10M — a driver-heap bomb)
    import graft.dialect.Dictionaries
    assert(Dictionaries.maxEntries <= 1000000,
      s"default literal cap ${Dictionaries.maxEntries} invites driver-heap blowups")
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.dim_huge")
    Engine.execute(spark,
      "CREATE TABLE graft_spec.dim_huge (id UInt64, name String) ENGINE=Memory")
    Engine.execute(spark,
      s"INSERT INTO graft_spec.dim_huge SELECT number, toString(number) FROM numbers(${Dictionaries.maxEntries + 1})")
    Engine.execute(spark, "DROP DICTIONARY IF EXISTS d_huge")
    Engine.execute(spark, """
      CREATE DICTIONARY d_huge (id UInt64, name String DEFAULT '?')
      PRIMARY KEY id
      SOURCE(CLICKHOUSE(TABLE 'graft_spec.dim_huge'))
      LAYOUT(HASHED()) LIFETIME(300)""")
    try {
      val df = Engine.execute(spark,
        "SELECT dictGet('d_huge', 'name', number) AS nm FROM numbers(3) ORDER BY number")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Join"), plan.take(2000))
      assert(df.collect().map(_.getString(0)).toSeq === Seq("0", "1", "2"))
    } finally {
      Engine.execute(spark, "DROP DICTIONARY IF EXISTS d_huge")
      Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.dim_huge")
    }
  }

  test("beyond-cap DICTIONARY compiles dictGet to a broadcast join, same results") {
    import graft.dialect.Dictionaries
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.dim_big")
    Engine.execute(spark,
      "CREATE TABLE graft_spec.dim_big (id UInt64, name String) ENGINE=Memory")
    Engine.execute(spark,
      "INSERT INTO graft_spec.dim_big VALUES (1,'one'),(2,'two'),(3,'three'),(4,'four'),(5,'five'),(6,'six')")
    Engine.execute(spark, "DROP DICTIONARY IF EXISTS d_big")
    Engine.execute(spark, """
      CREATE DICTIONARY d_big (id UInt64, name String DEFAULT '?')
      PRIMARY KEY id
      SOURCE(CLICKHOUSE(TABLE 'graft_spec.dim_big'))
      LAYOUT(HASHED()) LIFETIME(300)""")
    val saved = Dictionaries.maxEntries
    try {
      Dictionaries.maxEntries = 4 // source has 6 rows -> over cap
      val df = Engine.execute(spark, """
        SELECT dictGet('d_big', 'name', number) AS nm,
               dictHas('d_big', number) AS h,
               dictGetOrDefault('d_big', 'name', number, 'none') AS nd,
               dictGetOrNull('d_big', 'name', number) AS nn
        FROM numbers(8) ORDER BY number""")
      val plan = df.queryExecution.executedPlan.toString
      // the lookup is a JOIN against the source (scalar-subquery
      // rewrite), broadcast at this size — not an in-plan literal
      assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
      val r = df.collect()
      assert(r.map(_.getString(0)).toSeq ===
        Seq("?", "one", "two", "three", "four", "five", "six", "?"))
      assert(r.map(_.getShort(1)).toSeq === Seq[Short](0, 1, 1, 1, 1, 1, 1, 0))
      assert(r.map(_.getString(2)).toSeq ===
        Seq("none", "one", "two", "three", "four", "five", "six", "none"))
      assert(r.map(x => Option(x.getString(3)).orNull).toSeq ===
        Seq(null, "one", "two", "three", "four", "five", "six", null))
      // same query under the literal cap gives identical results
      Dictionaries.maxEntries = saved
      Engine.execute(spark, "SYSTEM RELOAD DICTIONARY d_big")
      val r2 = Engine.execute(spark, """
        SELECT dictGet('d_big', 'name', number) AS nm
        FROM numbers(8) ORDER BY number""").collect()
      assert(r2.map(_.getString(0)).toSeq === r.map(_.getString(0)).toSeq)
    } finally {
      Dictionaries.maxEntries = saved
      Engine.execute(spark, "DROP DICTIONARY IF EXISTS d_big")
    }
  }

  test("DICTIONARY Date attribute: absent key yields epoch, not a cast error") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.dim_dates")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.dim_dates (id UInt64, d Date) ENGINE=Memory""")
    Engine.execute(spark,
      "INSERT INTO graft_spec.dim_dates VALUES (1, '2024-03-15')")
    Engine.execute(spark, "DROP DICTIONARY IF EXISTS d_dates")
    Engine.execute(spark, """
      CREATE DICTIONARY d_dates (id UInt64, d Date)
      PRIMARY KEY id
      SOURCE(CLICKHOUSE(TABLE 'graft_spec.dim_dates'))
      LAYOUT(FLAT()) LIFETIME(300)""")
    val r = Engine.execute(spark, """
      SELECT toString(dictGet('d_dates', 'd', number)) AS d
      FROM numbers(3) ORDER BY number""").collect().map(_.getString(0)).toSeq
    assert(r === Seq("1970-01-01", "2024-03-15", "1970-01-01"))
    Engine.execute(spark, "DROP DICTIONARY d_dates")
  }

  test("CREATE TABLE AS SELECT: schema from the query, engine honored") {
    graft.dialect.ChContext.setup(spark, "/root/testdata/sf0.001")
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.ctas")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.ctas ENGINE=MergeTree() ORDER BY (n)
      AS SELECT number AS n, toString(number) AS s FROM numbers(5)""")
    val rows = Engine.execute(spark,
      "SELECT n, s FROM graft_spec.ctas ORDER BY n").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L, 4L))
    assert(rows.map(_.getString(1)).toSeq === Seq("0", "1", "2", "3", "4"))
    // IF NOT EXISTS on an existing table: no-op, keeps contents
    Engine.execute(spark, """
      CREATE TABLE IF NOT EXISTS graft_spec.ctas ENGINE=Memory
      AS SELECT 99 AS n""")
    assert(Engine.execute(spark,
      "SELECT count() FROM graft_spec.ctas").collect().head.getLong(0) === 5L)
    // ENGINE omitted defaults to Memory; WITH-led selects work too
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.ctas2")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.ctas2 AS
      WITH doubled AS (SELECT number * 2 AS d FROM numbers(3))
      SELECT d FROM doubled""")
    assert(Engine.execute(spark,
      "SELECT sum(d) FROM graft_spec.ctas2").collect().head.getLong(0) === 6L)
  }

  test("EXCHANGE TABLES swaps contents and metadata; cluster()/remote() collapse") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.xa")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.xb")
    Engine.execute(spark, "CREATE TABLE graft_spec.xa (v Int64) ENGINE=Memory")
    Engine.execute(spark, "CREATE TABLE graft_spec.xb (v Int64) ENGINE=Memory")
    Engine.execute(spark, "INSERT INTO graft_spec.xa VALUES (1)")
    Engine.execute(spark, "INSERT INTO graft_spec.xb VALUES (2)")
    Engine.execute(spark, "EXCHANGE TABLES graft_spec.xa AND graft_spec.xb")
    assert(Engine.execute(spark, "SELECT v FROM graft_spec.xa")
      .collect().head.getLong(0) === 2L)
    assert(Engine.execute(spark, "SELECT v FROM graft_spec.xb")
      .collect().head.getLong(0) === 1L)
    // cluster()/remote() read the local table (single-node semantics)
    assert(Engine.execute(spark,
      "SELECT v FROM cluster('default', graft_spec.xa)")
      .collect().head.getLong(0) === 2L)
    assert(Engine.execute(spark,
      "SELECT v FROM remote('127.0.0.1:9000', graft_spec.xb, 'user', 'pw')")
      .collect().head.getLong(0) === 1L)
  }

  test("SET session settings, SHOW PROCESSLIST, system.metrics/events") {
    // session-level SET applies to later queries; per-query SETTINGS win
    Engine.execute(spark,
      "SET max_result_rows = 3, result_overflow_mode = 'break'")
    assert(Engine.execute(spark,
      "SELECT number FROM numbers(10)").collect().length === 3)
    assert(Engine.execute(spark,
      "SELECT number FROM numbers(10) SETTINGS max_result_rows = 5")
      .collect().length === 5)
    // SET k = DEFAULT drops the override
    Engine.execute(spark,
      "SET max_result_rows = DEFAULT, result_overflow_mode = DEFAULT")
    assert(Engine.execute(spark,
      "SELECT number FROM numbers(10)").collect().length === 10)
    // SHOW PROCESSLIST mirrors system.processes' shape
    assert(Engine.execute(spark, "SHOW PROCESSLIST").columns.toSeq ===
      Seq("query_id", "user", "elapsed", "query"))
    // live gauges and cumulative counters
    val m = Engine.execute(spark,
      "SELECT metric, value FROM system.metrics ORDER BY metric").collect()
    assert(m.map(_.getString(0)).toSeq ===
      Seq("MemoryTracking", "Query", "Uptime"))
    assert(m.find(_.getString(0) == "MemoryTracking").get.getLong(1) > 0)
    val e = Engine.execute(spark,
      "SELECT event, value FROM system.events WHERE event = 'SelectQuery'")
      .collect()
    assert(e.length === 1 && e.head.getLong(1) > 0)
    // live system.settings shows SET overrides with changed = 1
    Engine.execute(spark, "SET max_threads = 8")
    val st = Engine.execute(spark,
      "SELECT value, changed FROM system.settings WHERE name = 'max_threads'")
      .collect().head
    assert(st.getString(0) === "8" && st.getInt(1) === 1)
    Engine.execute(spark, "SET max_threads = DEFAULT")
    val st2 = Engine.execute(spark,
      "SELECT value, changed FROM system.settings WHERE name = 'max_threads'")
      .collect().head
    assert(st2.getString(0) === "32" && st2.getInt(1) === 0)
  }

  test("Replicated*/Log engines map; Distributed reads and writes locally") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.repl")
    // ReplicatedReplacingMergeTree: ZK args stripped, version col kept
    Engine.execute(spark, """
      CREATE TABLE graft_spec.repl (k Int64, v Int64, ver Int64)
      ENGINE=ReplicatedReplacingMergeTree('/clickhouse/tables/repl', 'r1', ver)
      ORDER BY k""")
    Engine.execute(spark,
      "INSERT INTO graft_spec.repl VALUES (1, 10, 1), (1, 20, 2), (2, 5, 1)")
    val fin = Engine.execute(spark,
      "SELECT k, v FROM graft_spec.repl FINAL ORDER BY k").collect()
    assert(fin.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 20L), (2L, 5L))) // keep-latest by ver
    // Log-family engine accepted
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.lg")
    Engine.execute(spark,
      "CREATE TABLE graft_spec.lg (x Int64) ENGINE=TinyLog")
    Engine.execute(spark, "INSERT INTO graft_spec.lg VALUES (7)")
    assert(Engine.execute(spark, "SELECT x FROM graft_spec.lg")
      .collect().head.getLong(0) === 7L)
    // Distributed face: reads the underlying table, writes through
    Engine.execute(spark, """
      CREATE TABLE dist_lg (x Int64)
      ENGINE=Distributed(mycluster, graft_spec, lg, rand())""")
    Engine.execute(spark, "INSERT INTO dist_lg VALUES (8)")
    assert(Engine.execute(spark,
      "SELECT sum(x) FROM dist_lg").collect().head.getLong(0) === 15L)
    assert(Engine.execute(spark,
      "SELECT sum(x) FROM graft_spec.lg").collect().head.getLong(0) === 15L)
    Engine.execute(spark, "DROP TABLE dist_lg")
    assert(Engine.execute(spark, "SELECT sum(x) FROM graft_spec.lg")
      .collect().head.getLong(0) === 15L) // underlying survives the drop
  }

  test("RANGE_HASHED dictionary: 4-arg dictGet picks the covering interval") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.rates")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.rates (
        cur UInt64, lo Date, hi Date, rate Float64) ENGINE=Memory""")
    Engine.execute(spark, """
      INSERT INTO graft_spec.rates VALUES
      (1, '2024-01-01', '2024-06-30', 1.5),
      (1, '2024-07-01', '2024-12-31', 2.5),
      (2, '2024-01-01', '2024-12-31', 10.0)""")
    Engine.execute(spark, "DROP DICTIONARY IF EXISTS d_rates")
    Engine.execute(spark, """
      CREATE DICTIONARY d_rates (
        cur UInt64, lo Date, hi Date, rate Float64 DEFAULT -1.0)
      PRIMARY KEY cur
      SOURCE(CLICKHOUSE(TABLE 'graft_spec.rates'))
      LAYOUT(RANGE_HASHED()) RANGE(MIN lo MAX hi) LIFETIME(300)""")
    val r = Engine.execute(spark, """
      SELECT dictGet('d_rates', 'rate', 1, toDate('2024-03-15')) AS h1,
             dictGet('d_rates', 'rate', 1, toDate('2024-08-01')) AS h2,
             dictGet('d_rates', 'rate', 2, toDate('2024-05-05')) AS ten,
             dictGet('d_rates', 'rate', 1, toDate('2025-01-01')) AS gap,
             dictGet('d_rates', 'rate', 9, toDate('2024-05-05')) AS nokey""")
      .collect().head
    assert(r.getDouble(0) === 1.5)
    assert(r.getDouble(1) === 2.5)
    assert(r.getDouble(2) === 10.0)
    assert(r.getDouble(3) === -1.0) // no covering interval → DEFAULT
    assert(r.getDouble(4) === -1.0) // absent key → DEFAULT
    Engine.execute(spark, "DROP DICTIONARY d_rates")
  }

  test("beyond-cap RANGE_HASHED dictionary degrades to a join, same results") {
    import graft.dialect.Dictionaries
    // reuse the d_rates fixture shape; cap below its 3 rows
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.rates2")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.rates2 (
        cur UInt64, lo Date, hi Date, rate Float64) ENGINE=Memory""")
    Engine.execute(spark, """
      INSERT INTO graft_spec.rates2 VALUES
      (1, '2024-01-01', '2024-06-30', 1.5),
      (1, '2024-07-01', '2024-12-31', 2.5),
      (2, '2024-01-01', '2024-12-31', 10.0)""")
    Engine.execute(spark, "DROP DICTIONARY IF EXISTS d_rates2")
    Engine.execute(spark, """
      CREATE DICTIONARY d_rates2 (
        cur UInt64, lo Date, hi Date, rate Float64 DEFAULT -1.0)
      PRIMARY KEY cur
      SOURCE(CLICKHOUSE(TABLE 'graft_spec.rates2'))
      LAYOUT(RANGE_HASHED()) RANGE(MIN lo MAX hi) LIFETIME(300)""")
    val saved = Dictionaries.maxEntries
    try {
      Dictionaries.maxEntries = 2 // 3 interval rows -> over cap
      val df = Engine.execute(spark, """
        SELECT dictGet('d_rates2', 'rate', 1, toDate('2024-03-15')) AS h1,
               dictGet('d_rates2', 'rate', 1, toDate('2024-08-01')) AS h2,
               dictGet('d_rates2', 'rate', 2, toDate('2024-05-05')) AS ten,
               dictGet('d_rates2', 'rate', 1, toDate('2025-01-01')) AS gap,
               dictGet('d_rates2', 'rate', 9, toDate('2024-05-05')) AS nokey""")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
      val r = df.collect().head
      assert(r.getDouble(0) === 1.5)
      assert(r.getDouble(1) === 2.5)
      assert(r.getDouble(2) === 10.0)
      assert(r.getDouble(3) === -1.0) // no covering interval -> DEFAULT
      assert(r.getDouble(4) === -1.0) // absent key -> DEFAULT
    } finally {
      Dictionaries.maxEntries = saved
      Engine.execute(spark, "DROP DICTIONARY IF EXISTS d_rates2")
    }
  }

  test("CREATE TEMPORARY TABLE lives in the session and dies with it") {
    val s2 = spark.newSession()
    graft.dialect.ChFunctions.register(s2)
    Engine.execute(s2, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(s2, "DROP TABLE IF EXISTS graft_spec.tmp_t")
    // ENGINE optional on TEMPORARY (ClickHouse defaults it to Memory)
    Engine.execute(s2,
      "CREATE TEMPORARY TABLE graft_spec.tmp_t (k Int64, v String)")
    Engine.execute(s2,
      "INSERT INTO graft_spec.tmp_t VALUES (1, 'a'), (2, 'b')")
    val got = Engine.execute(s2,
      "SELECT k FROM graft_spec.tmp_t ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 2L))
    // session end: the temp table is dropped from the shared catalog
    graft.dialect.Ddl.dropTempTables(s2)
    assert(!spark.catalog.tableExists("graft_spec.tmp_t"))
    // idempotent
    graft.dialect.Ddl.dropTempTables(s2)
  }

  test("ANY and ASOF join dialect forms route through the engine") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.aj_l")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.aj_r")
    Engine.execute(spark,
      "CREATE TABLE graft_spec.aj_l (k Int64, v String) ENGINE=Memory")
    Engine.execute(spark,
      "CREATE TABLE graft_spec.aj_r (k Int64, w Int64) ENGINE=Memory")
    Engine.execute(spark,
      "INSERT INTO graft_spec.aj_l VALUES (1,'a'), (2,'b'), (3,'c')")
    Engine.execute(spark,
      "INSERT INTO graft_spec.aj_r VALUES (1,10), (1,20), (2,30)")
    // ANY LEFT: every left row exactly once; deterministic pick = least
    // full right row per key -> k=1 carries w=10
    val anyLeft = Engine.execute(spark, """
      SELECT l.k AS k, l.v AS v, r.w AS w FROM graft_spec.aj_l l
      ANY LEFT JOIN graft_spec.aj_r r ON l.k = r.k ORDER BY k""")
      .collect()
      .map(row => (row.getLong(0), if (row.isNullAt(2)) -1L else row.getLong(2)))
    assert(anyLeft.toSeq === Seq((1L, 10L), (2L, 30L), (3L, -1L)))
    // bare ANY JOIN = inner: unmatched left rows drop
    val anyInner = Engine.execute(spark, """
      SELECT l.k AS k, r.w AS w FROM graft_spec.aj_l l
      ANY JOIN graft_spec.aj_r r ON l.k = r.k ORDER BY k""").collect()
    assert(anyInner.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(anyInner.map(_.getLong(1)).toSeq === Seq(10L, 30L))
    // ANY RIGHT dedupes the LEFT side — refused loudly
    intercept[UnsupportedOperationException] {
      Engine.execute(spark, """
        SELECT 1 FROM graft_spec.aj_l l
        ANY RIGHT JOIN graft_spec.aj_r r ON l.k = r.k""")
    }
    // ASOF inner over bare tables: unmatched left rows drop
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.as_l")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.as_r")
    Engine.execute(spark,
      "CREATE TABLE graft_spec.as_l (k Int64, t Int64) ENGINE=Memory")
    Engine.execute(spark,
      "CREATE TABLE graft_spec.as_r (k Int64, t Int64, p Int64) ENGINE=Memory")
    Engine.execute(spark,
      "INSERT INTO graft_spec.as_l VALUES (1,5), (1,15), (2,5)")
    Engine.execute(spark,
      "INSERT INTO graft_spec.as_r VALUES (1,3,100), (1,10,200), (2,9,300)")
    val asof = Engine.execute(spark, """
      SELECT l.k AS k, l.t AS t, r.p AS p FROM graft_spec.as_l l
      ASOF JOIN graft_spec.as_r r ON l.k = r.k AND l.t >= r.t
      ORDER BY k, t""").collect()
    assert(asof.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 5L, 100L), (1L, 15L, 200L)))
  }

  test("system.query_log records statements with type and user") {
    val tag = s"qlog_probe_${System.nanoTime()}"
    Engine.execute(spark, s"SELECT 1 AS $tag")
    intercept[Throwable] {
      Engine.execute(spark, s"SELECT broken syntax $tag FROM FROM")
    }
    val rows = Engine.execute(spark, s"""
      SELECT query, type, user FROM system.query_log
      WHERE query LIKE '%$tag%' ORDER BY event_time""")
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(rows.length === 2)
    assert(rows(0) === ("QueryFinish", "default"))
    assert(rows(1) === ("ExceptionWhileProcessing", "default"))
    // reads of the log itself are not logged
    assert(Engine.execute(spark, s"""
      SELECT count() AS n FROM system.query_log
      WHERE query LIKE '%system.query_log%'""").collect().head.getLong(0) === 0L)
  }

  test("system.tables/columns/databases are live: post-DDL state visible") {
    graft.dialect.ChContext.setup(spark, "/root/testdata/sf0.001")
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_live")
    val dbs = Engine.execute(spark, "SELECT name FROM system.databases")
      .collect().map(_.getString(0)).toSeq
    assert(dbs.contains("graft_live"), s"databases=$dbs")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_live.lv")
    Engine.execute(spark,
      "CREATE TABLE graft_live.lv (k Int64, v String) ENGINE=Memory")
    assert(Engine.execute(spark, """
      SELECT name FROM system.tables
      WHERE database = 'graft_live' AND name = 'lv'""").count() === 1)
    // ALTER changes surface without re-running setup
    Engine.execute(spark, "ALTER TABLE graft_live.lv ADD COLUMN w Int32")
    val cols = Engine.execute(spark, """
      SELECT name, type FROM system.columns
      WHERE database = 'graft_live' AND table = 'lv' ORDER BY position""")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(cols === Seq("k" -> "Nullable(Int64)", "v" -> "Nullable(String)",
      "w" -> "Nullable(Int32)"))
    Engine.execute(spark, "DROP TABLE graft_live.lv")
    assert(Engine.execute(spark, """
      SELECT name FROM system.tables
      WHERE database = 'graft_live' AND name = 'lv'""").count() === 0)
  }

  test("INSERT VALUES and inline-format payloads land in partitioned tables") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.pv")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.pv (k Int64, d Date)
      ENGINE=MergeTree() PARTITION BY toYYYYMM(d) ORDER BY (k)""")
    // VALUES (was: "partitioned tables support INSERT ... SELECT only")
    Engine.execute(spark,
      "INSERT INTO graft_spec.pv VALUES (1, '2024-01-15'), (2, '2024-02-20')")
    // inline text payload takes the same layout path
    Engine.execute(spark, "INSERT INTO graft_spec.pv FORMAT CSV\n3,2024-03-10")
    // column-list VALUES null-fills the rest
    Engine.execute(spark,
      "INSERT INTO graft_spec.pv (d) VALUES ('2024-04-05')")
    val got = Engine.execute(spark,
      "SELECT _part, k FROM graft_spec.pv ORDER BY _part")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(got.toSeq ===
      Seq((202401, 1L), (202402, 2L), (202403, 3L), (202404, -1L)))
  }

  test("INSERT WithNames headers map (and reorder) columns; JSONCompactEachRow is positional") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.wn")
    Engine.execute(spark,
      "CREATE TABLE graft_spec.wn (id Int64, name String, w Float64) ENGINE=Memory")
    // header reorders columns relative to the table schema
    Engine.execute(spark,
      "INSERT INTO graft_spec.wn FORMAT TSVWithNames\nname\tid\nalpha\t1")
    // AndTypes: the type line is skipped
    Engine.execute(spark,
      "INSERT INTO graft_spec.wn FORMAT CSVWithNamesAndTypes\n" +
        "id,w\nInt64,Float64\n2,2.5")
    Engine.execute(spark,
      "INSERT INTO graft_spec.wn FORMAT JSONCompactEachRow\n" +
        "[3, \"gamma\", 3.5]\n[4, \"delta\", 4.5]")
    // column-list + positional arrays
    Engine.execute(spark,
      "INSERT INTO graft_spec.wn (w, id) FORMAT JSONCompactEachRow\n[5.5, 5]")
    val got = Engine.execute(spark,
      "SELECT id, name, w FROM graft_spec.wn ORDER BY id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSeq
    assert(got === Seq((1L, "alpha", -1.0), (2L, null, 2.5),
      (3L, "gamma", 3.5), (4L, "delta", 4.5), (5L, null, 5.5)))
  }

  test("OPTIMIZE TABLE DEDUPLICATE drops exact duplicate rows; BY cols keeps one per key") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.dd")
    Engine.execute(spark,
      "CREATE TABLE graft_spec.dd (k Int32, v String) ENGINE=MergeTree() ORDER BY (k)")
    Engine.execute(spark,
      "INSERT INTO graft_spec.dd VALUES (1,'a'), (1,'a'), (1,'b'), (2,'c'), (2,'c')")
    Engine.execute(spark, "OPTIMIZE TABLE graft_spec.dd DEDUPLICATE")
    val rows = Engine.execute(spark,
      "SELECT k, v FROM graft_spec.dd ORDER BY k, v")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows === Seq((1, "a"), (1, "b"), (2, "c")))
    Engine.execute(spark, "OPTIMIZE TABLE graft_spec.dd DEDUPLICATE BY k")
    val ks = Engine.execute(spark, "SELECT k FROM graft_spec.dd ORDER BY k")
      .collect().map(_.getInt(0)).toSeq
    assert(ks === Seq(1, 2))
  }

  test("partition lifecycle: DROP / DETACH / ATTACH / no resurrection") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.pl")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.pl (id Int64, d DateTime)
      ENGINE=MergeTree() PARTITION BY toYYYYMM(d) ORDER BY (id)""")
    Engine.execute(spark, """
      INSERT INTO graft_spec.pl SELECT number,
        toDateTime('2024-01-15 00:00:00') + toIntervalMonth(number % 3)
      FROM numbers(30)""")
    def counts(): Map[Int, Long] = Engine.execute(spark,
      "SELECT _part AS p, count() AS n FROM graft_spec.pl GROUP BY p")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts() === Map(202401 -> 10L, 202402 -> 10L, 202403 -> 10L))

    // DETACH: rows vanish from scans but the files survive
    Engine.execute(spark, "ALTER TABLE graft_spec.pl DETACH PARTITION 202402")
    assert(counts() === Map(202401 -> 10L, 202403 -> 10L))
    // ATTACH: rows return byte-identical
    Engine.execute(spark, "ALTER TABLE graft_spec.pl ATTACH PARTITION 202402")
    assert(counts() === Map(202401 -> 10L, 202402 -> 10L, 202403 -> 10L))

    // DROP: gone for good; absent partitions are a no-op
    Engine.execute(spark, "ALTER TABLE graft_spec.pl DROP PARTITION 202403")
    Engine.execute(spark, "ALTER TABLE graft_spec.pl DROP PARTITION 209912")
    assert(counts() === Map(202401 -> 10L, 202402 -> 10L))

    // a later INSERT into the dropped month must not resurrect old rows
    Engine.execute(spark, """
      INSERT INTO graft_spec.pl SELECT number + 1000,
        toDateTime('2024-03-20 00:00:00') FROM numbers(3)""")
    assert(counts() === Map(202401 -> 10L, 202402 -> 10L, 202403 -> 3L))

    // quoted / ID forms parse; ATTACH of a never-detached partition fails
    Engine.execute(spark, "ALTER TABLE graft_spec.pl DETACH PARTITION '202403'")
    Engine.execute(spark, "ALTER TABLE graft_spec.pl ATTACH PARTITION ID '202403'")
    assert(counts()(202403) === 3L)
    intercept[Exception](Engine.execute(spark,
      "ALTER TABLE graft_spec.pl ATTACH PARTITION 209901"))
  }

  test("PROJECTION: per-part partials, merge rewrite, honest invalidation") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.pr")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.pr (k Int64, g String, v Int64)
      ENGINE=MergeTree() ORDER BY (k)""")
    Engine.execute(spark, """
      INSERT INTO graft_spec.pr SELECT number,
        if(number % 2 = 0, 'a', 'b'), number * 10 FROM numbers(6)""")
    Engine.execute(spark, """
      ALTER TABLE graft_spec.pr ADD PROJECTION p_g
        (SELECT g, count(), sum(v), min(v), max(v) GROUP BY g)""")
    val q = """SELECT g, count() AS n, sum(v) AS sv,
                      min(v) AS mn, max(v) AS mx
               FROM graft_spec.pr GROUP BY g ORDER BY g"""
    def run() = Engine.execute(spark, q)
    def rows() = run().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    def usesStore(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.toString.contains("__proj_p_g")
    // pre-existing rows were never projected: no rewrite until MATERIALIZE
    assert(!usesStore(run()))
    val direct = rows()
    assert(direct === Seq(("a", 3L, 60L, 0L, 40L), ("b", 3L, 90L, 10L, 50L)))
    Engine.execute(spark, "ALTER TABLE graft_spec.pr MATERIALIZE PROJECTION p_g")
    assert(usesStore(run()))
    assert(rows() === direct)
    // a later INSERT appends its own partial; the rewrite merges parts
    Engine.execute(spark, """
      INSERT INTO graft_spec.pr SELECT number + 100,
        'a', 5 - number FROM numbers(2)""")
    assert(usesStore(run()))
    assert(rows() === Seq(("a", 5L, 69L, 0L, 40L), ("b", 3L, 90L, 10L, 50L)))
    // key-only WHERE rides the store; a value predicate needs base rows
    val filtered = Engine.execute(spark,
      "SELECT g, count() AS n FROM graft_spec.pr WHERE g = 'a' GROUP BY g")
    assert(usesStore(filtered))
    assert(filtered.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 5L)))
    assert(!usesStore(Engine.execute(spark,
      "SELECT g, count() AS n FROM graft_spec.pr WHERE v > 0 GROUP BY g")))
    // system.projections shows it live and complete
    val meta = Engine.execute(spark, """
      SELECT name, complete FROM system.projections
      WHERE table = 'graft_spec.pr'""").collect()
    assert(meta.map(_.getString(0)).toSeq === Seq("p_g") && meta.head.getBoolean(1))
    // a mutation invalidates: rewrite off, answers still right
    Engine.execute(spark, "ALTER TABLE graft_spec.pr DELETE WHERE k = 101")
    assert(!usesStore(run()))
    assert(rows() === Seq(("a", 4L, 65L, 0L, 40L), ("b", 3L, 90L, 10L, 50L)))
    // rematerialize restores the rewrite with the post-mutation truth
    Engine.execute(spark, "ALTER TABLE graft_spec.pr MATERIALIZE PROJECTION p_g")
    assert(usesStore(run()))
    assert(rows() === Seq(("a", 4L, 65L, 0L, 40L), ("b", 3L, 90L, 10L, 50L)))
    Engine.execute(spark, "ALTER TABLE graft_spec.pr DROP PROJECTION p_g")
    assert(!usesStore(run()))
    intercept[Exception](Engine.execute(spark,
      "ALTER TABLE graft_spec.pr MATERIALIZE PROJECTION p_g"))
  }

  test("PROJECTION WHERE coverage: key expressions ride the store, everything else falls back exactly") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.prw")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.prw (k Int64, g String, v Int64, w Int64)
      ENGINE=MergeTree() ORDER BY (k)""")
    Engine.execute(spark, """
      INSERT INTO graft_spec.prw SELECT number,
        if(number % 3 = 0, 'a', if(number % 3 = 1, 'b', 'c')),
        number * 10, number % 7 FROM numbers(60)""")
    Engine.execute(spark, """
      ALTER TABLE graft_spec.prw ADD PROJECTION p_w
        (SELECT g, count(), sum(v) GROUP BY g)""")
    Engine.execute(spark, "ALTER TABLE graft_spec.prw MATERIALIZE PROJECTION p_w")
    def usesStore(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.toString.contains("__proj_p_w")
    def ground(q: String): Seq[(String, Long, Long)] = {
      graft.dialect.Projections.enabled = false
      try Engine.execute(spark, q).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      finally graft.dialect.Projections.enabled = true
    }
    def both(q: String, store: Boolean): Unit = {
      val df = Engine.execute(spark, q)
      assert(usesStore(df) == store,
        s"store=${usesStore(df)} expected=$store for: $q")
      val got = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === ground(q), s"projection answer diverged for: $q")
    }
    // key equality and key EXPRESSIONS (IN, <>, function-of-key) ride
    // the store: the predicate rebinds onto the store's g column
    both("""SELECT g, count() AS n, sum(v) AS sv FROM graft_spec.prw
            WHERE g = 'a' GROUP BY g ORDER BY g""", store = true)
    both("""SELECT g, count() AS n, sum(v) AS sv FROM graft_spec.prw
            WHERE g IN ('a', 'c') GROUP BY g ORDER BY g""", store = true)
    both("""SELECT g, count() AS n, sum(v) AS sv FROM graft_spec.prw
            WHERE upper(g) <> 'B' GROUP BY g ORDER BY g""", store = true)
    // an AGGREGATED column in the WHERE needs base rows — the store
    // holds only per-part partials of v, not v itself
    both("""SELECT g, count() AS n, sum(v) AS sv FROM graft_spec.prw
            WHERE v >= 100 GROUP BY g ORDER BY g""", store = false)
    // a column the projection never saw (w) must fall back
    both("""SELECT g, count() AS n, sum(v) AS sv FROM graft_spec.prw
            WHERE w = 3 GROUP BY g ORDER BY g""", store = false)
    // key AND non-key mixed: one non-key reference poisons the whole
    // conjunction (no partial split — refusal is the sound default)
    both("""SELECT g, count() AS n, sum(v) AS sv FROM graft_spec.prw
            WHERE g = 'a' AND w = 3 GROUP BY g ORDER BY g""", store = false)
    // the sort-key column k is not a projection key either
    both("""SELECT g, count() AS n, sum(v) AS sv FROM graft_spec.prw
            WHERE k < 30 GROUP BY g ORDER BY g""", store = false)
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.prw")
  }

  test("PROJECTION avg/uniq partials: avgState pair merges exactly, uniq sketches union") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.pau")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.pau (k Int64, g String, u Int64)
      ENGINE=MergeTree() ORDER BY (k)""")
    Engine.execute(spark, """
      ALTER TABLE graft_spec.pau ADD PROJECTION p_au
        (SELECT g, avg(k), uniq(u) GROUP BY g)""")
    // two batches of very different sizes: merging per-batch AVERAGES
    // would give (1.5 + 100.0)/2 = 50.75 — the (sum,count) pair must
    // give the true 80.3; and the same u values repeat across batches,
    // so a sum of per-batch uniqs would double-count
    Engine.execute(spark, """
      INSERT INTO graft_spec.pau SELECT number, 'a', number % 3
      FROM numbers(4)""") // k: 0..3, avg 1.5
    Engine.execute(spark, """
      INSERT INTO graft_spec.pau SELECT number + 84, 'a', number % 3
      FROM numbers(33)""") // k: 84..116, avg 100
    val df = Engine.execute(spark,
      "SELECT g, avg(k) AS ak, uniq(u) AS du FROM graft_spec.pau GROUP BY g")
    assert(df.queryExecution.analyzed.toString.contains("__proj_p_au"),
      "avg/uniq rewrite should fire")
    val r = df.collect().head
    val expectAvg = ((0 to 3).sum + (84 to 116).sum).toDouble / 37
    assert(r.getDouble(1) === expectAvg)
    assert(r.getLong(2) === 3L) // {0,1,2} in both batches — union, not sum
    // guards: avg over a non-integral column refuses; uniq over double refuses
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.paug")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.paug (k Float64, g String)
      ENGINE=MergeTree() ORDER BY (g)""")
    intercept[Exception](Engine.execute(spark, """
      ALTER TABLE graft_spec.paug ADD PROJECTION bad
        (SELECT g, avg(k) GROUP BY g)"""))
    intercept[Exception](Engine.execute(spark, """
      ALTER TABLE graft_spec.paug ADD PROJECTION bad2
        (SELECT g, uniq(k) GROUP BY g)"""))
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.pau")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.paug")
  }

  test("SHOW CREATE TABLE emits ClickHouse DDL that round-trips through the engine") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.shc")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.shc (
        id Int64, d Date, tag String,
        INDEX ix_tag tag TYPE tokenbf_v1(4096, 3, 0) GRANULARITY 2)
      ENGINE=MergeTree() PARTITION BY toYYYYMM(d) ORDER BY (id)
      SAMPLE BY id""")
    val stmt = Engine.execute(spark, "SHOW CREATE TABLE graft_spec.shc")
      .collect().head.getString(0)
    // the CLICKHOUSE dialect, not Spark's createtab_stmt
    assert(stmt.contains("ENGINE = MergeTree()"), stmt)
    assert(stmt.contains("PARTITION BY toYYYYMM(d)"), stmt)
    assert(stmt.contains("ORDER BY (id)"), stmt)
    assert(stmt.contains("SAMPLE BY id"), stmt)
    assert(stmt.contains("INDEX ix_tag tag TYPE tokenbf_v1"), stmt)
    assert(!stmt.toLowerCase.contains("using parquet"), stmt)
    // the emitted DDL is executable: recreate the table from it
    Engine.execute(spark, "DROP TABLE graft_spec.shc")
    Engine.execute(spark, stmt)
    Engine.execute(spark,
      "INSERT INTO graft_spec.shc VALUES (1, '2024-03-01', 'alpha beta')")
    val r = Engine.execute(spark,
      "SELECT _part AS p, count() AS n FROM graft_spec.shc GROUP BY p")
      .collect().head
    assert((r.getInt(0), r.getLong(1)) == (202403, 1L))
    // a Replacing table renders its version column
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.shcr")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.shcr (k Int64, ver Int64)
      ENGINE=ReplacingMergeTree(ver) ORDER BY (k)""")
    assert(Engine.execute(spark, "SHOW CREATE TABLE graft_spec.shcr")
      .collect().head.getString(0).contains("ReplacingMergeTree(ver)"))
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.shc")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.shcr")
  }

  test("mutations preserve ORDER BY clustering; OPTIMIZE compacts small files") {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.cmp")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.cmp (k Int64, v Int64)
      ENGINE=MergeTree() ORDER BY (k)""")
    // ten interleaved inserts: every batch spans the whole key range,
    // so only a layout-preserving rewrite can make files disjoint
    for (b <- 0 until 10)
      Engine.execute(spark, s"""
        INSERT INTO graft_spec.cmp
        SELECT number * 10 + $b, number FROM numbers(500)""")
    val before = spark.table("graft_spec.cmp").inputFiles.length
    assert(before >= 10, s"expected one file set per insert, got $before")

    // per-file [min,max] of the sort key must be pairwise disjoint
    def disjointKeyRanges(): Boolean = {
      val ranges = spark.table("graft_spec.cmp")
        .select(input_file_name().as("f"), col("k"))
        .groupBy("f").agg(min("k").as("lo"), max("k").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      ranges.sliding(2).forall {
        case Array((_, hi1), (lo2, _)) => hi1 <= lo2
        case _ => true
      }
    }

    // a mutation's rewrite must come back clustered (parquet min/max
    // pruning depends on it), not in shuffle-arrival order
    Engine.execute(spark, "ALTER TABLE graft_spec.cmp UPDATE v = 0 WHERE k < 50")
    assert(disjointKeyRanges(), "mutation lost the ORDER BY clustering")

    Engine.execute(spark, "OPTIMIZE TABLE graft_spec.cmp")
    val after = spark.table("graft_spec.cmp").inputFiles.length
    assert(after < before, s"OPTIMIZE should compact: $before -> $after")
    assert(disjointKeyRanges())
    assert(Engine.execute(spark,
      "SELECT count() AS n, sum(k) AS sk FROM graft_spec.cmp")
      .collect().head.getLong(0) == 5000L)
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.cmp")
  }

  test("FREEZE PARTITION: snapshot unchanged by later mutations; UNFREEZE removes it") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.frz")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.frz (id Int64, v Int64, d DateTime)
      ENGINE=MergeTree() PARTITION BY toYYYYMM(d) ORDER BY (id)""")
    Engine.execute(spark, """
      INSERT INTO graft_spec.frz SELECT number, number * 10,
        toDateTime('2024-07-01 00:00:00') + toIntervalMonth(number % 2)
      FROM numbers(10)""")
    Engine.execute(spark,
      "ALTER TABLE graft_spec.frz FREEZE PARTITION 202407 WITH NAME 'bk1'")
    // whole-table unnamed freeze takes increment 1
    Engine.execute(spark, "ALTER TABLE graft_spec.frz FREEZE")
    val loc = java.nio.file.Paths.get(new java.net.URI(
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("graft_spec.frz"))
        .location.toString).getPath)
    val bk1 = loc.resolve("_shadow").resolve("bk1").resolve("_part=202407")
    assert(java.nio.file.Files.isDirectory(bk1))
    val frozenBefore = spark.read.parquet(bk1.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // mutate the live table: the frozen snapshot must not move
    Engine.execute(spark, "ALTER TABLE graft_spec.frz UPDATE v = 0 WHERE id % 2 = 0")
    Engine.execute(spark, "DELETE FROM graft_spec.frz WHERE id = 2")
    val live = Engine.execute(spark,
      "SELECT sum(v) AS sv, count() AS n FROM graft_spec.frz").collect().head
    assert(live.getLong(1) == 9L && live.getLong(0) == (1 to 9 by 2).map(_ * 10L).sum)
    val frozenAfter = spark.read.parquet(bk1.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(frozenAfter == frozenBefore,
      "frozen snapshot changed under a mutation")
    assert(frozenBefore.map(_._1) == Set(0L, 2L, 4L, 6L, 8L)) // July = even ids

    // system.frozen_parts lists both snapshots; UNFREEZE removes one
    val listed = Engine.execute(spark, """
      SELECT backup_name, partition_id FROM system.frozen_parts
      WHERE table = 'frz' ORDER BY backup_name, partition_id""").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(listed == Seq(("1", "202407"), ("1", "202408"), ("bk1", "202407")))
    Engine.execute(spark,
      "ALTER TABLE graft_spec.frz UNFREEZE WITH NAME 'bk1'")
    assert(!java.nio.file.Files.exists(bk1))
    assert(Engine.execute(spark,
      "SELECT count() AS n FROM system.frozen_parts WHERE table = 'frz'")
      .collect().head.getLong(0) == 2L)
    // FREEZE of an absent partition fails loudly
    intercept[Exception](Engine.execute(spark,
      "ALTER TABLE graft_spec.frz FREEZE PARTITION 209901 WITH NAME 'nope'"))
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.frz")
  }

  test("RENAME TABLE carries projections and skip indexes; a reused name never inherits them") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    for (t <- Seq("rnp", "rnp2"))
      Engine.execute(spark, s"DROP TABLE IF EXISTS graft_spec.$t")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.rnp (g String, v Int64)
      ENGINE=MergeTree() ORDER BY (v)""")
    Engine.execute(spark, "INSERT INTO graft_spec.rnp VALUES ('a', 1), ('b', 2)")
    Engine.execute(spark, """
      ALTER TABLE graft_spec.rnp ADD PROJECTION p_g
        (SELECT g, sum(v) GROUP BY g)""")
    Engine.execute(spark, "ALTER TABLE graft_spec.rnp MATERIALIZE PROJECTION p_g")
    Engine.execute(spark, "ALTER TABLE graft_spec.rnp ADD INDEX ix_v v TYPE minmax")
    Engine.execute(spark, "ALTER TABLE graft_spec.rnp MATERIALIZE INDEX ix_v")

    Engine.execute(spark, "RENAME TABLE graft_spec.rnp TO graft_spec.rnp2")

    // the projection followed the rename: rewrite fires on the NEW name
    val renamed = Engine.execute(spark,
      "SELECT g, sum(v) AS sv FROM graft_spec.rnp2 GROUP BY g ORDER BY g")
    assert(renamed.queryExecution.analyzed.toString.contains("__proj_p_g"),
      "projection should follow RENAME TABLE")
    assert(renamed.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 2L)))
    // inserts into the new name keep appending partials
    Engine.execute(spark, "INSERT INTO graft_spec.rnp2 VALUES ('a', 10)")
    assert(Engine.execute(spark,
      "SELECT g, sum(v) AS sv FROM graft_spec.rnp2 GROUP BY g ORDER BY g")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 11L), ("b", 2L)))
    // the skip index followed too: its manifest lists files again after
    // MATERIALIZE under the new location
    Engine.execute(spark, "ALTER TABLE graft_spec.rnp2 MATERIALIZE INDEX ix_v")
    assert(Engine.execute(spark, """
      SELECT name FROM system.data_skipping_indices
      WHERE table = 'rnp2'""").collect().map(_.getString(0)).toSeq == Seq("ix_v"))

    // a NEW table under the OLD name must not inherit the projection —
    // that would answer its GROUP BYs from the other table's store
    Engine.execute(spark, """
      CREATE TABLE graft_spec.rnp (g String, v Int64)
      ENGINE=MergeTree() ORDER BY (v)""")
    Engine.execute(spark, "INSERT INTO graft_spec.rnp VALUES ('z', 100)")
    val fresh = Engine.execute(spark,
      "SELECT g, sum(v) AS sv FROM graft_spec.rnp GROUP BY g ORDER BY g")
    assert(!fresh.queryExecution.analyzed.toString.contains("__proj_"),
      "a reused table name must not inherit the renamed table's projection")
    assert(fresh.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("z", 100L)))
    for (t <- Seq("rnp", "rnp2"))
      Engine.execute(spark, s"DROP TABLE IF EXISTS graft_spec.$t")
  }

  test("DELETE FROM lightweight-delete spelling; system.detached_parts") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.lwd")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.lwd (id Int64, d DateTime)
      ENGINE=MergeTree() PARTITION BY toYYYYMM(d) ORDER BY (id)""")
    Engine.execute(spark, """
      INSERT INTO graft_spec.lwd SELECT number,
        toDateTime('2024-08-01 00:00:00') + toIntervalMonth(number % 2)
      FROM numbers(10)""")
    // ClickHouse 22.8+ DELETE FROM == the ALTER DELETE mutation here
    Engine.execute(spark, "DELETE FROM graft_spec.lwd WHERE id % 2 = 0")
    val left = Engine.execute(spark,
      "SELECT id FROM graft_spec.lwd ORDER BY id").collect().map(_.getLong(0))
    assert(left.toSeq === Seq(1L, 3L, 5L, 7L, 9L))
    // detached_parts: empty -> DETACH lists it -> ATTACH clears it
    def detached(): Seq[(String, Long)] = Engine.execute(spark, """
      SELECT partition_id, bytes_on_disk FROM system.detached_parts
      WHERE table = 'lwd' ORDER BY partition_id""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(detached() === Seq.empty)
    Engine.execute(spark, "ALTER TABLE graft_spec.lwd DETACH PARTITION 202409")
    val d = detached()
    assert(d.map(_._1) === Seq("202409") && d.head._2 > 0)
    Engine.execute(spark, "ALTER TABLE graft_spec.lwd ATTACH PARTITION 202409")
    assert(detached() === Seq.empty)
    assert(Engine.execute(spark,
      "SELECT count() AS n FROM graft_spec.lwd").collect()(0).getLong(0) === 5L)
  }

  test("REPLACE/ATTACH PARTITION FROM and MOVE PARTITION TO TABLE") {
    // the backfill/promotion workflow: stage corrected data in a
    // scratch table, REPLACE the production partition; ATTACH ... FROM
    // adds alongside; MOVE transfers ownership. All file-level.
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.pf_dst")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.pf_src")
    for (t <- Seq("pf_dst", "pf_src"))
      Engine.execute(spark, s"""
        CREATE TABLE graft_spec.$t (id Int64, d DateTime)
        ENGINE=MergeTree() PARTITION BY toYYYYMM(d) ORDER BY (id)""")
    def ids(t: String): Seq[Long] = Engine.execute(spark,
      s"SELECT id FROM graft_spec.$t ORDER BY id").collect().map(_.getLong(0)).toSeq
    Engine.execute(spark, """
      INSERT INTO graft_spec.pf_dst SELECT number,
        toDateTime('2024-07-01 00:00:00') FROM numbers(3)""")
    Engine.execute(spark, """
      INSERT INTO graft_spec.pf_src SELECT number + 100,
        toDateTime('2024-07-15 00:00:00') FROM numbers(2)""")
    // REPLACE: dst's July rows are swapped for src's; src keeps its data
    Engine.execute(spark,
      "ALTER TABLE graft_spec.pf_dst REPLACE PARTITION 202407 FROM graft_spec.pf_src")
    assert(ids("pf_dst") === Seq(100L, 101L))
    assert(ids("pf_src") === Seq(100L, 101L))
    // ATTACH FROM: adds a copy alongside (duplicates by design)
    Engine.execute(spark,
      "ALTER TABLE graft_spec.pf_dst ATTACH PARTITION 202407 FROM graft_spec.pf_src")
    assert(ids("pf_dst") === Seq(100L, 100L, 101L, 101L))
    // MOVE: ownership transfers — src loses the partition
    Engine.execute(spark, "ALTER TABLE graft_spec.pf_dst DROP PARTITION 202407")
    Engine.execute(spark,
      "ALTER TABLE graft_spec.pf_src MOVE PARTITION 202407 TO TABLE graft_spec.pf_dst")
    assert(ids("pf_dst") === Seq(100L, 101L))
    assert(ids("pf_src") === Seq.empty)
    // absent source partition is an error; mismatched structure too
    intercept[Exception](Engine.execute(spark,
      "ALTER TABLE graft_spec.pf_dst REPLACE PARTITION 209901 FROM graft_spec.pf_src"))
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.pf_widest")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.pf_widest (id Int64, d DateTime, extra String)
      ENGINE=MergeTree() PARTITION BY toYYYYMM(d) ORDER BY (id)""")
    intercept[Exception](Engine.execute(spark,
      "ALTER TABLE graft_spec.pf_widest REPLACE PARTITION 202407 FROM graft_spec.pf_dst"))
  }

  test("chunked bench load is row-identical to the one-shot insert") {
    // the 300M-scale load runs as bounded numbers(offset, count) slices
    // (one full-dataset shuffle blows the /tmp envelope); the union of
    // slices must be exactly the rows one numbers(n) insert produces
    import graft.dialect.HitsFixture
    val n = 30011
    def digest(): (Long, Long) = {
      val r = Engine.execute(spark, """
        SELECT count() AS c,
               groupBitXor(cityHash64(toString(WatchID), URL, Title)) AS h
        FROM hits""").collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val saved = HitsFixture.LoadChunk
    try {
      Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS clickbench")
      Engine.execute(spark, "DROP TABLE IF EXISTS clickbench.hits_bench")
      HitsFixture.ensureScaled(spark, n) // single chunk
      val one = digest()
      Engine.execute(spark, "DROP TABLE IF EXISTS clickbench.hits_bench")
      HitsFixture.LoadChunk = 7001 // forces 5 slices
      HitsFixture.ensureScaled(spark, n)
      assert(digest() === one)
    } finally {
      HitsFixture.LoadChunk = saved
      Engine.execute(spark, "DROP TABLE IF EXISTS clickbench.hits_bench")
      HitsFixture.reset(spark)
    }
  }

  test("ATTACH merges with rows inserted after DETACH; repeated DETACH stacks") {
    // the retention workflow: detach a month, keep ingesting into it,
    // then re-attach — ClickHouse adds the detached parts ALONGSIDE the
    // new rows (r10 threw FileAlreadyExistsException and stranded them)
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.plm")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.plm (id Int64, d DateTime)
      ENGINE=MergeTree() PARTITION BY toYYYYMM(d) ORDER BY (id)""")
    def n(): Long = Engine.execute(spark,
      "SELECT count() AS n FROM graft_spec.plm").collect()(0).getLong(0)
    Engine.execute(spark, """
      INSERT INTO graft_spec.plm SELECT number,
        toDateTime('2024-05-01 00:00:00') FROM numbers(5)""")
    Engine.execute(spark, "ALTER TABLE graft_spec.plm DETACH PARTITION 202405")
    assert(n() === 0L)
    // ingest into the detached month, then attach: 5 + 3 = 8
    Engine.execute(spark, """
      INSERT INTO graft_spec.plm SELECT number + 100,
        toDateTime('2024-05-20 00:00:00') FROM numbers(3)""")
    assert(n() === 3L)
    Engine.execute(spark, "ALTER TABLE graft_spec.plm ATTACH PARTITION 202405")
    assert(n() === 8L)
    val ids = Engine.execute(spark,
      "SELECT id FROM graft_spec.plm ORDER BY id").collect().map(_.getLong(0))
    assert(ids.toSeq === Seq(0L, 1L, 2L, 3L, 4L, 100L, 101L, 102L))
    // stacking DETACH: detach, insert, detach again into the same
    // detached/_part dir, then one ATTACH brings everything back
    Engine.execute(spark, "ALTER TABLE graft_spec.plm DETACH PARTITION 202405")
    Engine.execute(spark, """
      INSERT INTO graft_spec.plm SELECT number + 200,
        toDateTime('2024-05-25 00:00:00') FROM numbers(2)""")
    Engine.execute(spark, "ALTER TABLE graft_spec.plm DETACH PARTITION 202405")
    assert(n() === 0L)
    Engine.execute(spark, "ALTER TABLE graft_spec.plm ATTACH PARTITION 202405")
    assert(n() === 10L)
  }

  test("CREATE refuses non-integral PARTITION BY; integral forms pass") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.ptv")
    // String partition expr: would NULL-cast every row into one
    // degenerate partition — must refuse at CREATE, loudly
    val eStr = intercept[Exception](Engine.execute(spark, """
      CREATE TABLE graft_spec.ptv (k Int64, region String)
      ENGINE=MergeTree() PARTITION BY region ORDER BY (k)"""))
    assert(eStr.getMessage.contains("integral"), eStr.getMessage)
    // Date partition expr: same trap (cast(date as int) is NULL)
    val eDate = intercept[Exception](Engine.execute(spark, """
      CREATE TABLE graft_spec.ptv (k Int64, d Date)
      ENGINE=MergeTree() PARTITION BY d ORDER BY (k)"""))
    assert(eDate.getMessage.contains("toYYYYMM"), eDate.getMessage)
    // unresolvable expr: names the problem instead of NULLing
    val eBad = intercept[Exception](Engine.execute(spark, """
      CREATE TABLE graft_spec.ptv (k Int64, d Date)
      ENGINE=MergeTree() PARTITION BY toYYYYMM(nope) ORDER BY (k)"""))
    assert(eBad.getMessage.contains("does not resolve"), eBad.getMessage)
    // the refused CREATEs must not leave a half-created table behind
    assert(!spark.catalog.tableExists("graft_spec.ptv"))
    // canonical integral forms still create fine
    Engine.execute(spark, """
      CREATE TABLE graft_spec.ptv (k Int64, d Date, region String)
      ENGINE=MergeTree() PARTITION BY toYYYYMM(d) ORDER BY (k)""")
    Engine.execute(spark,
      "INSERT INTO graft_spec.ptv VALUES (1, '2024-03-05', 'eu')")
    assert(Engine.execute(spark,
      "SELECT _part FROM graft_spec.ptv").collect().head.getInt(0) === 202403)
    Engine.execute(spark, "DROP TABLE graft_spec.ptv SYNC")
    // a hash-bucketed string partition is the suggested legal spelling
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.ptv2 SYNC")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.ptv2 (k Int64, region String)
      ENGINE=MergeTree() PARTITION BY cityHash64(region) % 16 ORDER BY (k)""")
    Engine.execute(spark, "DROP TABLE graft_spec.ptv2 SYNC")
  }

  test("MODIFY COLUMN stores COMMENT (with or without a type change)") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.mcc")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.mcc (k Int64, v Int32 COMMENT 'old')
      ENGINE=MergeTree() ORDER BY (k)""")
    def commentOf(c: String): String = Engine.execute(spark,
      s"DESCRIBE graft_spec.mcc").collect()
      .find(_.getString(0) == c).get.getString(4)
    assert(commentOf("v") === "old")
    // comment-only MODIFY
    Engine.execute(spark,
      "ALTER TABLE graft_spec.mcc MODIFY COLUMN v COMMENT 'counts stuff'")
    assert(commentOf("v") === "counts stuff")
    // type change + comment in one statement: both must land
    Engine.execute(spark,
      "ALTER TABLE graft_spec.mcc MODIFY COLUMN v Int64 COMMENT 'wide now'")
    assert(commentOf("v") === "wide now")
    assert(spark.table("graft_spec.mcc").schema("v")
      .dataType.simpleString === "bigint")
    // DEFAULT + COMMENT combined: default no longer swallows the tail
    Engine.execute(spark, """
      ALTER TABLE graft_spec.mcc MODIFY COLUMN v DEFAULT k * 2 COMMENT 'dc'""")
    assert(commentOf("v") === "dc")
    Engine.execute(spark, "INSERT INTO graft_spec.mcc (k) VALUES (21)")
    assert(Engine.execute(spark,
      "SELECT v FROM graft_spec.mcc WHERE k = 21")
      .collect().head.getLong(0) === 42L)
    // REMOVE COMMENT clears it
    Engine.execute(spark,
      "ALTER TABLE graft_spec.mcc MODIFY COLUMN v REMOVE COMMENT")
    assert(commentOf("v") === "")
    Engine.execute(spark, "DROP TABLE graft_spec.mcc SYNC")
  }

  test("UPDATE with 'in partition'/'where' inside string literals parses") {
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_spec")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_spec.upds")
    Engine.execute(spark, """
      CREATE TABLE graft_spec.upds (id Int64, note String, flag Int64)
      ENGINE=MergeTree() ORDER BY (id)""")
    Engine.execute(spark,
      "INSERT INTO graft_spec.upds VALUES (1, 'a', 0), (2, 'b', 0)")
    // the literal contains both clause keywords — the masked scan must
    // not split the statement inside the string
    Engine.execute(spark, """
      ALTER TABLE graft_spec.upds
      UPDATE note = 'moved in partition 3 where it was' WHERE id = 1""")
    val got = Engine.execute(spark,
      "SELECT note FROM graft_spec.upds WHERE id = 1")
      .collect().head.getString(0)
    assert(got === "moved in partition 3 where it was")
    // a top-level `x IN (...)` in an assignment is NOT an IN PARTITION
    Engine.execute(spark, """
      ALTER TABLE graft_spec.upds
      UPDATE flag = if(id IN (1, 5), 1, 0) WHERE id >= 1""")
    val flags = Engine.execute(spark,
      "SELECT id, flag FROM graft_spec.upds ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(flags === Seq((1L, 1L), (2L, 0L)))
    Engine.execute(spark, "DROP TABLE graft_spec.upds SYNC")
  }
}
