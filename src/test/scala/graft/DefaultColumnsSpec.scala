package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.dialect.{CatalogStore, Engine}

/** Column DEFAULT expressions (`c Type DEFAULT expr`): INSERTs that
  * omit the column store the expression's value — evaluated over the
  * inserted block, so defaults may reference the provided columns
  * (`b DEFAULT a * 2`, ClickHouse semantics). Computed column kinds
  * (MATERIALIZED / ALIAS / EPHEMERAL) are refused loudly. */
class DefaultColumnsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def exec(q: String) = Engine.execute(spark, q)

  test("VALUES with a column subset fills declared defaults; explicit values win") {
    exec("CREATE DATABASE IF NOT EXISTS graft_spec")
    exec("DROP TABLE IF EXISTS graft_spec.defs")
    exec("""
      CREATE TABLE graft_spec.defs (
        id Int64,
        status String DEFAULT 'new',
        score Int64 DEFAULT id * 10,
        note String)
      ENGINE=MergeTree() ORDER BY (id)""")
    exec("INSERT INTO graft_spec.defs (id) VALUES (1), (2)")
    exec("INSERT INTO graft_spec.defs (id, status) VALUES (3, 'done')")
    exec("INSERT INTO graft_spec.defs VALUES (4, 'x', 999, 'full')")
    val rows = exec("""
      SELECT id, status, score, note FROM graft_spec.defs ORDER BY id""")
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      if (r.isNullAt(3)) null else r.getString(3))).toSeq == Seq(
      (1L, "new", 10L, null),   // both defaults; no-default note stays NULL
      (2L, "new", 20L, null),
      (3L, "done", 30L, null),  // explicit status, defaulted score
      (4L, "x", 999L, "full"))) // full list: nothing defaulted
    // a quoted default holding a comma
    exec("DROP TABLE IF EXISTS graft_spec.defs_q")
    exec("""
      CREATE TABLE graft_spec.defs_q (id Int64, s String DEFAULT 'a,b')
      ENGINE=MergeTree() ORDER BY (id)""")
    exec("INSERT INTO graft_spec.defs_q (id) VALUES (1)")
    assert(exec("SELECT s FROM graft_spec.defs_q").collect()
      .map(_.getString(0)).toSeq == Seq("a,b"))
  }

  test("INSERT (cols) SELECT fills defaults the same way") {
    exec("CREATE DATABASE IF NOT EXISTS graft_spec")
    exec("DROP TABLE IF EXISTS graft_spec.defsel")
    exec("""
      CREATE TABLE graft_spec.defsel (
        k Int64, tag String DEFAULT 'auto', dbl Int64 DEFAULT k + k)
      ENGINE=Memory""")
    exec("""
      INSERT INTO graft_spec.defsel (k) SELECT number FROM numbers(3)""")
    val rows = exec(
      "SELECT k, tag, dbl FROM graft_spec.defsel ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq == Seq((0L, "auto", 0L), (1L, "auto", 2L), (2L, "auto", 4L)))
    // arity mismatch between the list and the SELECT fails loudly
    intercept[Exception](exec("""
      INSERT INTO graft_spec.defsel (k) SELECT number, number FROM numbers(1)"""))
    // a typo'd column in the list errors (ClickHouse
    // NO_SUCH_COLUMN_IN_TABLE) instead of silently dropping the value
    val e = intercept[Exception](exec("""
      INSERT INTO graft_spec.defsel (kk) SELECT number FROM numbers(1)"""))
    assert(e.getMessage.contains("no column kk"), e.getMessage)
    val e2 = intercept[Exception](exec(
      "INSERT INTO graft_spec.defsel (k, typo) VALUES (1, 2)"))
    assert(e2.getMessage.contains("no column typo"), e2.getMessage)
  }

  test("SHOW CREATE and DESCRIBE carry the DEFAULT; definition survives a restart") {
    exec("CREATE DATABASE IF NOT EXISTS graft_spec")
    exec("DROP TABLE IF EXISTS graft_spec.defshow")
    exec("""
      CREATE TABLE graft_spec.defshow (id Int64, st String DEFAULT 'q')
      ENGINE=MergeTree() ORDER BY (id)""")
    val stmt = exec("SHOW CREATE TABLE graft_spec.defshow")
      .collect().head.getString(0)
    assert(stmt.contains("DEFAULT 'q'"), stmt)
    val st = exec("DESCRIBE TABLE graft_spec.defshow").collect()
      .find(_.getString(0) == "st").get
    assert(st.getString(2) == "DEFAULT" && st.getString(3) == "'q'")
    // restart: the default restores from _graft_meta.json
    exec("INSERT INTO graft_spec.defshow (id) VALUES (1)")
    CatalogStore.simulateRestart(spark, Seq("graft_spec.defshow"))
    exec("INSERT INTO graft_spec.defshow (id) VALUES (2)")
    assert(exec("""
      SELECT count() AS n FROM graft_spec.defshow WHERE st = 'q'""")
      .collect().head.getLong(0) == 2L,
      "the DEFAULT must survive the restart")
  }

  test("computed column kinds parse; empty DEFAULT refuses") {
    exec("CREATE DATABASE IF NOT EXISTS graft_spec")
    exec("DROP TABLE IF EXISTS graft_spec.defbad SYNC")
    // every ClickHouse computed-column kind is supported now — the
    // full matrix lives in MaterializedColumnSpec / AliasEphemeralSpec;
    // here just pin that the decoration scan routes each keyword
    for (kw <- Seq("ALIAS id", "EPHEMERAL")) {
      exec("DROP TABLE IF EXISTS graft_spec.defok SYNC")
      exec(s"""
        CREATE TABLE graft_spec.defok (id Int64, c Int64 $kw)
        ENGINE=Memory""")
      val de = exec("DESCRIBE graft_spec.defok").collect()
        .find(_.getString(0) == "c").get
      assert(de.getString(2) === kw.split(" ").head, de.toString)
      exec("DROP TABLE graft_spec.defok SYNC")
    }
    // Enum values spelling DEFAULT inside a string never trip the scan
    exec("DROP TABLE IF EXISTS graft_spec.defenum")
    exec("""
      CREATE TABLE graft_spec.defenum (
        id Int64, e Enum8('DEFAULT' = 1, 'other' = 2)) ENGINE=Memory""")
    exec("INSERT INTO graft_spec.defenum VALUES (1, 'DEFAULT')")
    assert(exec("SELECT e FROM graft_spec.defenum").collect()
      .head.getString(0) == "DEFAULT")
    exec("DROP TABLE graft_spec.defenum SYNC")
  }

  test("ALTER ADD COLUMN DEFAULT backfills existing rows and applies to new inserts") {
    exec("CREATE DATABASE IF NOT EXISTS graft_spec")
    exec("DROP TABLE IF EXISTS graft_spec.defadd")
    exec("""
      CREATE TABLE graft_spec.defadd (id Int64)
      ENGINE=MergeTree() ORDER BY (id)""")
    exec("INSERT INTO graft_spec.defadd VALUES (1), (2)")
    exec("ALTER TABLE graft_spec.defadd ADD COLUMN grade String DEFAULT 'B'")
    // existing rows materialize the default (ClickHouse computes it on
    // read for old parts; the observable value is the same)
    assert(exec("""
      SELECT count() AS n FROM graft_spec.defadd WHERE grade = 'B'""")
      .collect().head.getLong(0) == 2L)
    exec("INSERT INTO graft_spec.defadd (id) VALUES (3)")
    assert(exec("""
      SELECT count() AS n FROM graft_spec.defadd WHERE grade = 'B'""")
      .collect().head.getLong(0) == 3L)
    // DROP COLUMN forgets the default; re-adding the name starts clean
    exec("ALTER TABLE graft_spec.defadd DROP COLUMN grade")
    exec("ALTER TABLE graft_spec.defadd ADD COLUMN grade String")
    exec("INSERT INTO graft_spec.defadd (id) VALUES (4)")
    assert(exec("""
      SELECT count() AS n FROM graft_spec.defadd WHERE grade = 'B'""")
      .collect().head.getLong(0) == 0L,
      "a dropped column's DEFAULT must not haunt a re-added column")
    exec("DROP TABLE graft_spec.defadd SYNC")
    exec("DROP TABLE IF EXISTS graft_spec.defs SYNC")
    exec("DROP TABLE IF EXISTS graft_spec.defsel SYNC")
    exec("DROP TABLE IF EXISTS graft_spec.defshow SYNC")
  }

  test("MODIFY COLUMN changes/removes the DEFAULT; type change keeps it") {
    exec("CREATE DATABASE IF NOT EXISTS graft_spec")
    exec("DROP TABLE IF EXISTS graft_spec.defmod")
    exec("""
      CREATE TABLE graft_spec.defmod (id Int64, st String DEFAULT 'a')
      ENGINE=MergeTree() ORDER BY (id)""")
    exec("ALTER TABLE graft_spec.defmod MODIFY COLUMN st DEFAULT 'b'")
    exec("INSERT INTO graft_spec.defmod (id) VALUES (1)")
    assert(exec("SELECT st FROM graft_spec.defmod WHERE id = 1")
      .collect().head.getString(0) == "b", "MODIFY ... DEFAULT swaps the fill")
    // restart: the swapped default persisted
    CatalogStore.simulateRestart(spark, Seq("graft_spec.defmod"))
    exec("INSERT INTO graft_spec.defmod (id) VALUES (2)")
    assert(exec("SELECT st FROM graft_spec.defmod WHERE id = 2")
      .collect().head.getString(0) == "b")
    // full form: type + new default in one statement
    exec("ALTER TABLE graft_spec.defmod MODIFY COLUMN st String DEFAULT 'c'")
    exec("INSERT INTO graft_spec.defmod (id) VALUES (3)")
    assert(exec("SELECT st FROM graft_spec.defmod WHERE id = 3")
      .collect().head.getString(0) == "c")
    exec("ALTER TABLE graft_spec.defmod MODIFY COLUMN st REMOVE DEFAULT")
    exec("INSERT INTO graft_spec.defmod (id) VALUES (4)")
    assert(exec("""
      SELECT count() AS n FROM graft_spec.defmod WHERE id = 4 AND st IS NULL""")
      .collect().head.getLong(0) == 1L, "REMOVE DEFAULT restores NULL fill")
    exec("DROP TABLE graft_spec.defmod SYNC")
  }

  test("materialized views fire on default-filled blocks") {
    exec("CREATE DATABASE IF NOT EXISTS graft_spec")
    exec("DROP TABLE IF EXISTS graft_spec.defmv_src")
    exec("DROP TABLE IF EXISTS graft_spec.defmv_out")
    exec("""
      CREATE TABLE graft_spec.defmv_src (
        id Int64, w Int64 DEFAULT id * 100) ENGINE=Memory""")
    exec("CREATE TABLE graft_spec.defmv_out (s Int64) ENGINE=Memory")
    exec("""
      CREATE MATERIALIZED VIEW graft_spec.defmv TO graft_spec.defmv_out AS
      SELECT sum(w) AS s FROM graft_spec.defmv_src""")
    exec("INSERT INTO graft_spec.defmv_src (id) VALUES (1), (2)")
    assert(exec("SELECT sum(s) AS t FROM graft_spec.defmv_out")
      .collect().head.getLong(0) == 300L,
      "the MV must see the default-filled block, not NULLs")
    exec("DROP TABLE graft_spec.defmv_out SYNC")
    exec("DROP TABLE graft_spec.defmv_src SYNC")
  }

  test("chained DEFAULTs resolve in dependency order; cycles refuse") {
    exec("CREATE DATABASE IF NOT EXISTS graft_spec")
    exec("DROP TABLE IF EXISTS graft_spec.defchain")
    exec("""
      CREATE TABLE graft_spec.defchain (
        id Int64, c Int64 DEFAULT b + 1, b Int64 DEFAULT a * 2,
        a Int64 DEFAULT id + 10)
      ENGINE=MergeTree() ORDER BY (id)""")
    // all three omitted: a <- id, b <- a, c <- b — declaration order
    // must not matter (c is declared before its dependency b)
    exec("INSERT INTO graft_spec.defchain (id) VALUES (5)")
    val r = exec("""
      SELECT a, b, c FROM graft_spec.defchain WHERE id = 5""")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((15L, 30L, 31L)))
    // partially provided: b given, c chains off the PROVIDED b
    exec("INSERT INTO graft_spec.defchain (id, b) VALUES (6, 100)")
    val r2 = exec("""
      SELECT a, b, c FROM graft_spec.defchain WHERE id = 6""")
      .collect().head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) === ((16L, 100L, 101L)))
    exec("DROP TABLE graft_spec.defchain SYNC")
    // a cyclic chain refuses loudly at INSERT
    exec("DROP TABLE IF EXISTS graft_spec.defcyc")
    exec("""
      CREATE TABLE graft_spec.defcyc (
        id Int64, x Int64 DEFAULT y + 1, y Int64 DEFAULT x + 1)
      ENGINE=Memory""")
    val e = intercept[Exception](
      exec("INSERT INTO graft_spec.defcyc (id) VALUES (1)"))
    assert(e.getMessage.contains("cyclic"), e.getMessage)
    exec("DROP TABLE graft_spec.defcyc SYNC")
  }

  test("INSERT column lists resolve case-insensitively (no silent default swap)") {
    exec("CREATE DATABASE IF NOT EXISTS graft_spec")
    exec("DROP TABLE IF EXISTS graft_spec.defcase")
    exec("""
      CREATE TABLE graft_spec.defcase (id Int64, v Int64 DEFAULT 7)
      ENGINE=MergeTree() ORDER BY (id)""")
    // `Id`/`V` differ only in case: ClickHouse resolves them to the
    // declared columns — the provided value must land, NOT the default
    exec("INSERT INTO graft_spec.defcase (Id, V) VALUES (1, 42)")
    assert(exec("SELECT v FROM graft_spec.defcase WHERE id = 1")
      .collect().head.getLong(0) === 42L,
      "case-differing column list silently swapped the value for the DEFAULT")
    // ...and in the column-list SELECT form
    exec("INSERT INTO graft_spec.defcase (ID) SELECT 2")
    assert(exec("SELECT v FROM graft_spec.defcase WHERE id = 2")
      .collect().head.getLong(0) === 7L)
    exec("DROP TABLE graft_spec.defcase SYNC")
  }

  test("RENAME rewrites referencing DEFAULTs; DROP of a referenced column refuses") {
    exec("CREATE DATABASE IF NOT EXISTS graft_spec")
    exec("DROP TABLE IF EXISTS graft_spec.defref")
    exec("""
      CREATE TABLE graft_spec.defref (
        k Int64, bonus Int64 DEFAULT k * 5, note String)
      ENGINE=MergeTree() ORDER BY (k)""")
    // dropping k is guarded twice: it is the sorting key AND referenced;
    // use a non-key reference instead
    exec("ALTER TABLE graft_spec.defref ADD COLUMN base Int64")
    exec("ALTER TABLE graft_spec.defref MODIFY COLUMN bonus DEFAULT base * 5")
    val e = intercept[Exception](
      exec("ALTER TABLE graft_spec.defref DROP COLUMN base"))
    assert(e.getMessage.contains("DEFAULT"), e.getMessage)
    // rename the referenced column: the stored expression follows
    exec("ALTER TABLE graft_spec.defref RENAME COLUMN base TO seed")
    val de = exec("DESCRIBE graft_spec.defref").collect()
      .find(_.getString(0) == "bonus").get.getString(3)
    assert(de.contains("seed"), s"DEFAULT not rewritten on RENAME: $de")
    exec("INSERT INTO graft_spec.defref (k, seed) VALUES (1, 9)")
    assert(exec("SELECT bonus FROM graft_spec.defref WHERE k = 1")
      .collect().head.getLong(0) === 45L)
    exec("DROP TABLE graft_spec.defref SYNC")
  }

  test("binary and text format inserts honor DEFAULTs for omitted columns") {
    exec("CREATE DATABASE IF NOT EXISTS graft_spec")
    exec("DROP TABLE IF EXISTS graft_spec.deffmt")
    exec("""
      CREATE TABLE graft_spec.deffmt (
        id Int64, lvl String DEFAULT 'std', amt Int64 DEFAULT id * 2)
      ENGINE=MergeTree() ORDER BY (id)""")
    // CSV payload listing only id: lvl/amt fill from their DEFAULTs
    // (ClickHouse input_format_defaults_for_omitted_fields=1 default)
    Engine.execute(spark,
      "INSERT INTO graft_spec.deffmt (id) FORMAT CSV\n11\n12")
    val rows = exec("""
      SELECT id, lvl, amt FROM graft_spec.deffmt ORDER BY id""").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows === Seq((11L, "std", 22L), (12L, "std", 24L)))
    exec("DROP TABLE graft_spec.deffmt SYNC")
  }
}
