package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.dialect.Transpiler

class TranspilerSpec extends AnyFunSuite {

  test("FORMAT clause is stripped and captured") {
    assert(Transpiler.extractFormat("SELECT 1 FORMAT JSONCompact") ===
      ("SELECT 1", Some("JSONCompact")))
    assert(Transpiler.extractFormat("SELECT 1 FORMAT TSV;") === ("SELECT 1", Some("TSV")))
    assert(Transpiler.extractFormat("SELECT 1;") === ("SELECT 1", None))
    // FORMAT inside a string literal is not a clause — only trailing
    assert(Transpiler.extractFormat("SELECT 'FORMAT TSV' AS x") ===
      ("SELECT 'FORMAT TSV' AS x", None))
  }

  test("numbers(N) becomes a range() subquery with a `number` column") {
    val t = Transpiler.transpile("SELECT number FROM numbers(10)")
    assert(t.contains("FROM range(10)") && t.contains("AS number"))
  }

  test("numeric ternary gets the truthiness wrap") {
    val t = Transpiler.transpile("SELECT number % 2 ? number : NULL AS x FROM numbers(4)")
    assert(t.startsWith("SELECT if((number % 2) <> 0, number, NULL) AS x"), t)
    // right after a clause keyword, the keyword keeps its space
    val w = Transpiler.transpile("SELECT number FROM numbers(4) WHERE number % 2 ? 1 : 0")
    assert(w.endsWith(" WHERE if((number % 2) <> 0, 1, 0)"), w)
  }

  test("boolean ternary keeps its condition") {
    val t = Transpiler.transpile("SELECT a > 1 ? 'y' : 'n' AS x FROM t")
    assert(t.startsWith("SELECT if(a > 1, 'y', 'n') AS x"), t)
    // a backslash-escaped quote inside a branch literal
    val e = Transpiler.transpile("SELECT number > 1 ? 'it\\'s' : 'no' AS t FROM numbers(3)")
    assert(e.startsWith("SELECT if(number > 1, 'it\\'s', 'no') AS t FROM"), e)
  }

  test("nested ternaries rewrite inside parens") {
    val t = Transpiler.transpile("SELECT f(x % 3 ? 1 : 0) AS a, y ? 'u' : 'v' AS b FROM t")
    assert(t.contains("if((x % 3) <> 0, 1, 0)"), t)
    assert(t.contains("if((y) <> 0, 'u', 'v') AS b"), t)
  }

  test("named WINDOW: sibling UNION scopes keep their own specs") {
    val t = Transpiler.transpile(
      "SELECT sum(v) OVER w AS s FROM a WINDOW w AS (ORDER BY x) " +
        "UNION ALL " +
        "SELECT sum(v) OVER w AS s FROM b WINDOW w AS (ORDER BY y DESC)")
    val i = t.indexOf("UNION ALL")
    assert(i > 0, t)
    val (left, right) = (t.substring(0, i), t.substring(i))
    assert(left.contains("OVER (ORDER BY x)") && !left.contains("ORDER BY y"), t)
    assert(right.contains("OVER (ORDER BY y DESC)") &&
      !right.contains("ORDER BY x"), t)
    assert(!t.toUpperCase.contains(" WINDOW "), t)
  }

  test("quantile(p)(x) becomes percentile(x, p)") {
    assert(Transpiler.transpile("SELECT quantile(0.5)(v) FROM t")
      .contains("percentile(v, 0.5)"))
  }

  test("ClickHouse type names map in CAST") {
    val t = Transpiler.transpile("SELECT CAST(x AS UInt64), CAST(y AS Float32) FROM t")
    assert(t.contains("DECIMAL(20,0)") && t.contains("FLOAT"))
  }

  test("count() becomes count(*)") {
    assert(Transpiler.transpile("SELECT count() FROM t").contains("count(*)"))
  }

  test("WITH TOTALS becomes an empty grouping set") {
    assert(Transpiler.transpile("SELECT k, count() FROM t GROUP BY k WITH TOTALS")
      .contains("GROUP BY GROUPING SETS ((k), ())"))
  }

  test("SAMPLE fraction becomes TABLESAMPLE percent") {
    assert(Transpiler.transpile("SELECT * FROM t SAMPLE 0.1")
      .contains("TABLESAMPLE (10 PERCENT)"))
  }

  test("bracket array literals become array(); subscripts survive") {
    val t = Transpiler.transpile("SELECT ['a', 'b'] AS arr, m['k'] AS v, arr[1] AS e")
    assert(t.contains("array('a', 'b')"))
    assert(t.contains("m['k']") && t.contains("arr[1]"))
    // brackets and escaped quotes inside literals are text
    assert(Transpiler.transpile("SELECT ['it\\'s', '['] AS a") ===
      "SELECT array('it\\'s', '[') AS a")
  }

  test("tuple-of-arrays Map cast becomes map_from_arrays (index.html:729)") {
    val t = Transpiler.transpile(
      "SELECT CAST((['hello', 'world'], [number, number % 2]) AS Map(String, UInt64)) AS map")
    assert(t.contains("map_from_arrays(array('hello', 'world'), array(number, number % 2))"), t)
    assert(t.contains("AS MAP<String, DECIMAL(20,0)>"), t)
  }

  test("composite CAST types: Array/Tuple/Nullable") {
    val t = Transpiler.transpile("SELECT CAST(x AS Array(UInt32)) AS a, " +
      "CAST(y AS Tuple(k String, v Int64)) AS t2, CAST(z AS Nullable(Int32)) AS n")
    assert(t.contains("ARRAY<BIGINT>"), t)
    assert(t.contains("STRUCT<k: String, v: BIGINT>"), t)
    assert(t.contains("CAST(z AS INT)"), t)
  }

  test("PREWHERE merges into WHERE; FINAL and GLOBAL drop") {
    val merged = Transpiler.transpile(
      "SELECT a FROM t PREWHERE x > 1 WHERE y < 2 ORDER BY a")
    assert(merged.contains("WHERE (x > 1) AND (y < 2)"), merged)
    val alone = Transpiler.transpile("SELECT a FROM t PREWHERE x > 1")
    assert(alone.contains("WHERE x > 1"), alone)
    val fin = Transpiler.transpile("SELECT a FROM t FINAL WHERE x = 1")
    assert(!fin.toUpperCase.contains("FINAL"), fin)
    val gj = Transpiler.transpile("SELECT a FROM t GLOBAL JOIN u ON t.k = u.k")
    assert(!gj.toUpperCase.contains("GLOBAL"), gj)
  }

  test("* EXCEPT col gets parens; set-operator EXCEPT is untouched") {
    val t = Transpiler.transpile("SELECT * EXCEPT text FROM documents")
    assert(t.contains("* EXCEPT (text)"), t)
    val kept = Transpiler.transpile("SELECT * EXCEPT (a, b) FROM t")
    assert(kept.contains("* EXCEPT (a, b)"), kept)
    val setop = Transpiler.transpile("SELECT a FROM t EXCEPT SELECT a FROM u")
    assert(!setop.contains("EXCEPT ("), setop)
  }

  test("multi-array ARRAY JOIN zips via inline; single array explodes") {
    val one = Transpiler.transpile("SELECT x FROM t ARRAY JOIN arr AS x ORDER BY x")
    assert(one.contains("LATERAL VIEW explode(arr) graft_aj AS x"), one)
    val two = Transpiler.transpile(
      "SELECT a, b FROM t ARRAY JOIN xs AS a, ys AS b WHERE a > 0")
    assert(two.contains("LATERAL VIEW inline("), two)
    // first array is bound once as a lambda var, later arrays subscript
    assert(two.contains("'a', graft_a[graft_i]") && two.contains("'b', (ys)[graft_i]"), two)
    assert(two.contains("transform(array(xs), graft_a ->"), two)
    assert(two.contains("WHERE a > 0"), two)
    val left = Transpiler.transpile("SELECT a, b FROM t LEFT ARRAY JOIN xs AS a, ys AS b")
    assert(left.contains("inline_outer("), left)
  }

  test("ARRAY JOIN inside a subquery stops at the closing paren (ADVICE r4)") {
    val t = Transpiler.transpile(
      "SELECT s.x FROM (SELECT x FROM t ARRAY JOIN arr AS x) s")
    assert(t.contains("LATERAL VIEW explode(arr) graft_aj AS x) s"), t)
    val j = Transpiler.transpile(
      "SELECT x, u.v FROM t ARRAY JOIN arr AS x JOIN u ON t.k = u.k")
    assert(j.contains("LATERAL VIEW explode(arr) graft_aj AS x JOIN u ON t.k = u.k"), j)
  }

  test("WITH FILL parses prefix keys; expression keys fall through") {
    assert(Transpiler.withFillParts(
      "SELECT g, m FROM t ORDER BY g, m WITH FILL FROM 0 TO 6") ===
      Some(("SELECT g, m FROM t ", Seq(("g", true)), ("m", true), 0L, 6L, 1L, Nil)))
    assert(Transpiler.withFillParts(
      "SELECT k FROM t ORDER BY k WITH FILL FROM 1 TO 9 STEP 2") ===
      Some(("SELECT k FROM t ", Nil, ("k", true), 1L, 9L, 2L, Nil)))
    assert(Transpiler.withFillParts(
      "SELECT k, n FROM t ORDER BY k WITH FILL FROM 1 TO 9 INTERPOLATE (n AS n)") ===
      Some(("SELECT k, n FROM t ", Nil, ("k", true), 1L, 9L, 1L, Seq("n"))))
    // general INTERPOLATE expressions are unsupported -> fall through
    assert(Transpiler.withFillParts(
      "SELECT k, n FROM t ORDER BY k WITH FILL FROM 1 TO 9 INTERPOLATE (n AS n + 1)") === None)
    assert(Transpiler.withFillParts(
      "SELECT k FROM t ORDER BY k + 1 WITH FILL FROM 1 TO 9") === None)
  }

  test("WITH FILL preserves per-key ASC/DESC (ADVICE r4)") {
    assert(Transpiler.withFillParts(
      "SELECT g, m FROM t ORDER BY g DESC, m WITH FILL FROM 0 TO 6") ===
      Some(("SELECT g, m FROM t ", Seq(("g", false)), ("m", true), 0L, 6L, 1L, Nil)))
    assert(Transpiler.withFillParts(
      "SELECT m FROM t ORDER BY m DESC WITH FILL FROM 0 TO 6") ===
      Some(("SELECT m FROM t ", Nil, ("m", false), 0L, 6L, 1L, Nil)))
  }

  test("LIMIT n BY parses into inner/limit/cols/outer-limit") {
    assert(Transpiler.limitByParts("SELECT a FROM t ORDER BY b LIMIT 2 BY a") ===
      Some(("SELECT a FROM t ORDER BY b", 2, Seq("a"), None)))
    assert(Transpiler.limitByParts("SELECT a FROM t LIMIT 3 BY a, c LIMIT 10") ===
      Some(("SELECT a FROM t", 3, Seq("a", "c"), Some(10))))
    assert(Transpiler.limitByParts("SELECT a FROM t LIMIT 5") === None)
  }

  test("scalar WITH aliases substitute; subquery CTEs pass through") {
    // plain scalar alias
    assert(Transpiler.transpile("WITH 5 AS x SELECT x + 1 AS y")
      .contains("SELECT (5) + 1 AS y"))
    // chained scalars: later items see earlier aliases
    assert(Transpiler.transpile("WITH 2 AS a, a * 3 AS b SELECT b AS v")
      .contains("SELECT ((2) * 3) AS v"))
    // alias inside a string literal is untouched
    assert(Transpiler.transpile("WITH 5 AS x SELECT 'x marks', x AS v")
      .contains("'x marks'"))
    // mixed: the standard CTE stays, the scalar substitutes into it
    val mixed = Transpiler.transpile(
      "WITH 10 AS lim, t AS (SELECT number FROM numbers(lim)) SELECT count(*) FROM t")
    assert(mixed.contains("WITH t AS"), mixed)
    assert(mixed.contains("range((10))") || mixed.contains("numbers((10))"), mixed)
    // expression with a function call and quotes
    assert(Transpiler.transpile(
      "WITH toDate('2024-01-02') AS d SELECT d + 1 AS nxt")
      .contains("(toDate('2024-01-02')) + 1 AS nxt"))
    // qualified references (t.k) and backticked identifiers are NOT the
    // alias — substituting them would produce invalid SQL (ADVICE r7)
    val qual = Transpiler.transpile(
      "WITH 5 AS k SELECT t.k, `k`, k AS v FROM tbl t")
    assert(qual.contains("t.k"), qual)
    assert(qual.contains("`k`"), qual)
    assert(qual.contains("(5) AS v"), qual)
    // an alias sharing a function's name doesn't clobber the call
    assert(Transpiler.transpile("WITH 3 AS abs SELECT abs(-1), abs AS v")
      .contains("abs(-1)"))
    // a backslash-escaped quote in the scalar keeps the clause intact
    assert(Transpiler.transpile("WITH 'it\\'s' AS p SELECT p AS v") ===
      "SELECT ('it\\'s') AS v")
  }

  test("* REPLACE becomes EXCEPT + appended aliases; composes and recurses") {
    val t = Transpiler.transpile(
      "SELECT * REPLACE (x * 2 AS x, upper(y) AS y) FROM t ORDER BY id")
    assert(t.contains("* EXCEPT (x, y), x * 2 AS x, upper(y) AS y"), t)
    // non-AS items are left untouched (loud parser failure, not silent)
    val bad = Transpiler.transpile("SELECT * REPLACE (x + 1) FROM t")
    assert(bad.contains("REPLACE"), bad)
  }

  test("QUALIFY rewrites to a subquery filter with window aliases inlined") {
    val t = Transpiler.transpile(
      "SELECT g, row_number() OVER (PARTITION BY g ORDER BY v) AS rn " +
        "FROM t QUALIFY rn = 1 ORDER BY g LIMIT 5")
    assert(t.contains("SELECT * EXCEPT (__q) FROM (SELECT"), t)
    // the alias in the condition is replaced by the window expression
    assert(t.contains("((row_number() OVER (PARTITION BY g ORDER BY v)) = 1) AS __q"), t)
    assert(t.matches("(?s).*WHERE __q\\s+ORDER BY g LIMIT 5.*"), t)
    // statements without QUALIFY pass through untouched
    val plain = "SELECT a FROM t WHERE b = 1"
    assert(Transpiler.transpile(plain) == plain)
  }

  test("splitTotals: protocol split for WITH TOTALS (servers' totals row)") {
    // no TOTALS -> no split
    assert(Transpiler.splitTotals("SELECT a FROM t GROUP BY a").isEmpty)
    // single key: main drops the modifier; totals keeps select list
    // analyzable via GROUPING SETS and filters to the empty set
    val Some((m1, t1)) = Transpiler.splitTotals(
      "SELECT a, count() AS n FROM t GROUP BY a WITH TOTALS ORDER BY a LIMIT 5")
    assert(m1 === "SELECT a, count() AS n FROM t GROUP BY a ORDER BY a LIMIT 5")
    assert(t1.contains("GROUP BY GROUPING SETS ((a), ())"), t1)
    assert(t1.contains("HAVING grouping_id() = 1"), t1)
    // the totals query must not inherit ORDER BY / LIMIT
    assert(!t1.toUpperCase.contains("ORDER BY") && !t1.toUpperCase.contains("LIMIT"), t1)
    // multi-key (incl. an expression key with a comma inside): the
    // grouping_id target is all bits set
    val Some((_, t2)) = Transpiler.splitTotals(
      "SELECT a, concat(b, c) FROM t GROUP BY a, concat(b, c) WITH TOTALS")
    assert(t2.contains("GROUPING SETS ((a, concat(b, c)), ())"), t2)
    assert(t2.contains("HAVING grouping_id() = 3"), t2)
    // an existing HAVING is AND-folded into the totals filter
    val Some((m3, t3)) = Transpiler.splitTotals(
      "SELECT a, count() AS n FROM t GROUP BY a WITH TOTALS HAVING count() > 2 ORDER BY a")
    assert(m3.contains("HAVING count() > 2"), m3)
    assert(t3.contains("HAVING (count() > 2) AND grouping_id() = 1"), t3)
  }

  test("splitTotals: depth-aware — subquery clauses never hijack the split") {
    // a GROUP BY inside a derived table must not be taken as the outer
    // one (the lazy regex latched onto it, emitting unbalanced parens)
    val Some((m1, t1)) = Transpiler.splitTotals(
      "SELECT x, sum(c) AS s FROM (SELECT k AS x, count() AS c FROM t GROUP BY k) sub " +
        "GROUP BY x WITH TOTALS")
    assert(m1.contains("FROM (SELECT k AS x, count() AS c FROM t GROUP BY k) sub GROUP BY x"), m1)
    assert(t1.contains("GROUP BY GROUPING SETS ((x), ())"), t1)
    assert(!t1.contains("GROUPING SETS ((k"), t1)
    // HAVING containing a subquery with its own ORDER BY/LIMIT keeps
    // the whole predicate; the outer ORDER BY is still stripped
    val Some((_, t2)) = Transpiler.splitTotals(
      "SELECT a, count() AS n FROM t GROUP BY a WITH TOTALS " +
        "HAVING count() > (SELECT max(m) FROM t2 ORDER BY m LIMIT 1) ORDER BY a")
    assert(t2.contains("HAVING (count() > (SELECT max(m) FROM t2 ORDER BY m LIMIT 1)) AND grouping_id() = 1"), t2)
    assert(!t2.endsWith("ORDER BY a"), t2)
    // WITH TOTALS nested inside a subquery is not the protocol split's
    // job — None lets the inline GROUPING SETS rewrite handle it
    assert(Transpiler.splitTotals(
      "SELECT * FROM (SELECT a, count() FROM t GROUP BY a WITH TOTALS) z").isEmpty)
    // a string literal containing the keywords is inert
    assert(Transpiler.splitTotals(
      "SELECT 'GROUP BY a WITH TOTALS' AS s FROM t").isEmpty)
  }
}
