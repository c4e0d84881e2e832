package graft.dialect

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.matching.Regex

/** ClickHouse-SQL → Spark-SQL source transpiler (SURVEY.md §7 step 1).
  *
  * Textual rewrites mirroring the reference's own query shapes:
  *   - FORMAT-clause extraction (reference strips it the same way
  *     before delegating: /root/reference/main.py:534-546)
  *   - numbers(N) table function → range(N)
  *     (/root/reference/test/test_suite.py:323-336)
  *   - ternary `cond ? a : b` with ClickHouse nonzero-truthiness
  *     (/root/reference/public/index.html:729)
  *   - parameterized aggregates quantile(p)(x) → percentile(x, p)
  *   - bare `count()` → `count(*)`
  *   - ClickHouse type names in CAST (SURVEY §1.2 mapping)
  *
  * Function-name coverage lives in [[ChFunctions]] (registered on the
  * session, resolved by Catalyst — no text rewrite needed for those).
  */
object Transpiler {

  private val formatRe =
    "(?is)\\s+FORMAT\\s+([A-Za-z0-9]+)\\s*;?\\s*$".r

  /** Split off a trailing FORMAT clause; returns (sql, format). */
  def extractFormat(sql: String): (String, Option[String]) =
    formatRe.findFirstMatchIn(sql) match {
      case Some(m) => (sql.substring(0, m.start), Some(m.group(1)))
      case None => (sql.stripSuffix(";"), None)
    }


  /** Every `GROUP BY <keys> WITH TOTALS` modifier in the statement:
    * (gbStart, keysStart, totStart, totEnd, depth). The owning GROUP BY
    * is the LAST one before the modifier at the SAME paren depth with no
    * shallower scope boundary between them (same subquery); keyword
    * matches inside string literals never count. A `WITH totals AS ...`
    * CTE matches the keyword regex but has no owning GROUP BY, so it
    * yields no span. */
  private def totalsSpans(sql: String): Seq[(Int, Int, Int, Int, Int)] = {
    val totalsRe = "(?is)\\bWITH\\s+TOTALS\\b".r
    if (totalsRe.findFirstIn(sql).isEmpty) return Nil
    val sc = SqlScan(sql)
    val gbs = sc.codeMatches("(?is)\\bGROUP\\s+BY\\b".r).toSeq
    sc.codeMatches(totalsRe).toSeq
      .flatMap { t =>
        val d = sc.depth(t.start)
        gbs.filter(g => g.end <= t.start && sc.depth(g.start) == d &&
            (g.end until t.start).forall(i => sc.depth(i) >= d))
          .lastOption.map(g => (g.start, g.end, t.start, t.end, d))
      }
  }

  /** `GROUP BY k WITH TOTALS` protocol split: (main query without the
    * TOTALS modifier, totals-row-only query). `Engine.run` runs both
    * parts for a codec with a totals slot (native packet 7, JSON
    * `totals` member); the dialect's inline GROUPING SETS rewrite stays
    * the behavior everywhere else. The totals query keeps the
    * select-list analyzable via GROUPING SETS ((k), ()) and filters to
    * the empty grouping set with HAVING grouping(k)=1; an existing
    * HAVING is AND-folded (= totals_mode=after_having_exclusive; the
    * no-HAVING common case is exact).
    *
    * All clause anchors are DEPTH-0 matches: a GROUP BY inside a
    * derived table, or an ORDER BY/LIMIT inside a HAVING subquery,
    * must never be mistaken for the outer query's clause (a lazy regex
    * did exactly that). A WITH TOTALS nested inside a subquery returns
    * None — the inline GROUPING SETS rewrite handles it downstream. */
  def splitTotals(sql: String): Option[(String, String)] =
    totalsSpans(sql).filter(_._5 == 0).lastOption.map {
      case (gbStart, keysStart, totStart, totEnd, _) =>
        val keys = sql.substring(keysStart, totStart).trim
        // empty grouping set = all grouping-id bits set (2^n - 1);
        // zero-arg grouping_id() resolves in HAVING where per-column
        // grouping(k) would re-reference raw columns the aggregate no
        // longer outputs
        val cond =
          s"grouping_id() = ${(1L << SqlScan(keys).split(',').count(_.trim.nonEmpty)) - 1}"
        val gs = s"GROUP BY GROUPING SETS (($keys), ())"
        val after = sql.substring(totEnd)
        val sa = SqlScan(after)
        def firstDepth0(pat: String): Option[Int] =
          sa.codeMatches(pat.r).find(m => sa.depth(m.start) == 0).map(_.start)
        // the totals row ignores the outer ORDER BY/LIMIT (ClickHouse
        // computes totals over ALL rows regardless of LIMIT; and a Sort
        // above the HAVING can't re-resolve raw grouping columns anyway)
        // — but a trailing SETTINGS clause applies to BOTH passes
        val settingsPos = firstDepth0("(?is)\\bSETTINGS\\b")
        val tailStart = (firstDepth0("(?is)\\bORDER\\s+BY\\b") ++
          firstDepth0("(?is)\\bLIMIT\\b") ++ settingsPos)
          .minOption.getOrElse(after.length)
        val settingsTail = settingsPos.map(p => " " + after.substring(p).trim)
          .getOrElse("")
        val havingM = "(?is)^\\s*HAVING\\b".r.findFirstMatchIn(after)
        val totalsSql = havingM match {
          case Some(h) =>
            val havingText = after.substring(h.end, tailStart).trim
            sql.substring(0, gbStart) + gs +
              s" HAVING ($havingText) AND $cond" + settingsTail
          case None =>
            sql.substring(0, gbStart) + gs + s" HAVING $cond" + settingsTail
        }
        val mainSql = sql.substring(0, gbStart) + s"GROUP BY $keys" + after
        (mainSql, totalsSql)
    }

  private val typeNames = Seq(
    "UInt8" -> "SMALLINT", "UInt16" -> "INT", "UInt32" -> "BIGINT",
    "UInt64" -> "DECIMAL(20,0)", "Int8" -> "TINYINT", "Int16" -> "SMALLINT",
    "Int32" -> "INT", "Int64" -> "BIGINT", "Float32" -> "FLOAT",
    "Float64" -> "DOUBLE", "DateTime" -> "TIMESTAMP")

  /** ClickHouse type names → Spark DDL type names (word-bounded).
    * Composite wrappers are converted structurally: Array(T) →
    * ARRAY<T>, Map(K,V) → MAP<K,V>, Tuple(a T, ...) → STRUCT<a: T, ...>,
    * Nullable(T) → T (Spark fields are nullable by default),
    * LowCardinality(T) → T (a dictionary-encoding hint; parquet
    * dictionary-encodes automatically). Enum8/Enum16 ('a' = 1, ...)
    * store the string labels (SURVEY §1.2): the name→code map is a
    * storage detail clients never see in results. */
  def mapTypeNames(s: String): String = {
    var r = s
    "(?i)FixedString\\s*\\(\\s*\\d+\\s*\\)".r.findFirstIn(r)
      .foreach(fs => r = r.replace(fs, "STRING"))
    r = "(?i)\\bDateTime64\\s*\\(\\s*\\d+\\s*(?:,\\s*'[^']*'\\s*)?\\)".r
      .replaceAllIn(r, "TIMESTAMP")
    r = r.replaceAll("\\bDate32\\b", "DATE")
    r = SqlScan(r).replaceCalls("(?i)\\bEnum(?:8|16)?\\s*\\(".r)((_, _) => "STRING")
    r = rewriteCompositeTypes(r)
    typeNames.foreach { case (ch, sp) => r = r.replaceAll(s"\\b$ch\\b", sp) }
    r = r.replaceAll("\\bUUID\\b", "STRING")
    r = r.replaceAll("\\bBool\\b", "BOOLEAN")
    r.replaceAll("\\bString\\b", "STRING")
  }

  /** Structural Array(..)/Map(..)/Tuple(..)/Nullable(..) → Spark DDL
    * angle-bracket syntax, innermost-first so nesting works. */
  private def rewriteCompositeTypes(s: String): String = {
    val re = "(?i)\\b(Array|Map|Tuple|Nullable|LowCardinality)\\s*\\(([^()]*)\\)".r
    var r = s
    var changed = true
    while (changed) {
      changed = false
      r = re.replaceAllIn(r, m => {
        changed = true
        val inner = m.group(2).trim
        java.util.regex.Matcher.quoteReplacement(m.group(1).toLowerCase match {
          case "array" => s"ARRAY<$inner>"
          case "map" => s"MAP<$inner>"
          case "nullable" | "lowcardinality" => inner
          case "tuple" =>
            val fields = inner.split(",").map(_.trim).zipWithIndex.map {
              case (f, i) =>
                // "name Type" or bare "Type" (positional -> _1, _2 ...)
                val parts = f.split("\\s+", 2)
                if (parts.length == 2) s"${parts(0)}: ${parts(1)}"
                else s"_${i + 1}: $f"
            }
            s"STRUCT<${fields.mkString(", ")}>"
        })
      })
    }
    r
  }

  /** Nested-column prefixes registered by DDL (lowercased bare name).
    * `ParsedParams Nested(Key1 String, ...)` expands to parallel array
    * columns literally named `ParsedParams.Key1` (SURVEY §1.2 mapping,
    * reference hits DDL test.yml:49); ClickHouse query text keeps the
    * dotted access, which Spark would resolve as a struct path — known
    * nested refs are backticked into a single identifier instead. */
  /** Nested prefix (lowercased) → its field names in declaration
    * order. Registered by Ddl.createTable at Nested(...) expansion;
    * consulted by rewriteNestedRefs and by ARRAY JOIN prefix
    * expansion. */
  private[graft] val nestedColumns =
    scala.collection.concurrent.TrieMap.empty[String, Seq[String]]

  private def rewriteNestedRefs(s: String): String =
    if (nestedColumns.isEmpty) s
    else "(?<![`\\w.])(\\w+)\\.(\\w+)".r.replaceAllIn(s, m =>
      if (nestedColumns.contains(m.group(1).toLowerCase))
        java.util.regex.Matcher.quoteReplacement(s"`${m.group(1)}.${m.group(2)}`")
      else m.matched)

  /** ClickHouse SQL text → Spark SQL text (FORMAT clause must already
    * be stripped). */
  /** ClickHouse's scalar WITH form — `WITH <expr> AS <ident>, ...
    * SELECT ...` — aliases an expression, not a subquery (the standard
    * `ident AS (subquery)` CTE form passes through untouched, and both
    * may mix in one clause). Spark has no equivalent, so scalar items
    * are substituted textually: every word-boundary occurrence of the
    * alias outside string literals becomes `(expr)`. */
  private def rewriteScalarWith(sql: String): String = {
    val m = "(?is)^(\\s*)WITH\\s+".r.findFirstMatchIn(sql).getOrElse(return sql)
    // the clause ends at the top-level SELECT; its items split at
    // top-level commas
    val sc = SqlScan(sql)
    val selectAt = sc.keyword("SELECT", m.end)
    if (selectAt < 0) return sql // not a WITH ... SELECT; leave as-is
    val items = sc.split(',', m.end, selectAt)
    val cteRe = "(?is)^\\s*[\\w`]+\\s+AS\\s*\\(.*\\)\\s*$".r
    val scalarRe = "(?is)^\\s*(.*\\S)\\s+AS\\s+`?(\\w+)`?\\s*$".r
    val (ctes, scalars) = items.partition(it => cteRe.findFirstIn(it).isDefined)
    if (scalars.isEmpty) return sql
    // substitute in code only; guard like substituteSelectAliases: no
    // qualified refs (t.k), no backticked occurrences, and never a
    // function-call name (alias followed by '(')
    def subst(in: String, alias: String, expr: String): String =
      SqlScan(in).replaceInCode(("(?<![.\\w`])" +
        java.util.regex.Pattern.quote(alias) + "\\b(?![`(])(?!\\s*\\()").r,
        _ => s"($expr)")
    // earlier scalar aliases are visible in later scalar exprs
    val subs = scalars.foldLeft(Vector.empty[(String, String)]) { (acc, it) =>
      it match {
        case scalarRe(expr0, alias) =>
          val expr = acc.foldLeft(expr0.trim) {
            case (e, (a2, e2)) => subst(e, a2, e2)
          }
          acc :+ (alias -> expr)
        case _ => return sql // unrecognized item; don't half-rewrite
      }
    }
    var rest = sql.substring(selectAt)
    var kept = ctes.map(_.trim)
    subs.foreach { case (alias, expr) =>
      rest = subst(rest, alias, expr)
      kept = kept.map(subst(_, alias, expr)) // and in later CTE bodies
    }
    m.group(1) +
      (if (kept.nonEmpty) s"WITH ${kept.mkString(", ")} " else "") + rest
  }

  def transpile(chSql: String): String = {
    var s = chSql
    // SQL UDFs (CREATE FUNCTION ... AS (x) -> expr) are macros: expand
    // call sites first, so every later rewrite sees plain expressions
    s = UserFunctions.expand(s)
    // special-purpose engines (Null/Set/Join/Buffer/Merge): joinGet,
    // merge() expansion, `IN table`, Buffer/Merge read faces — string
    // rewrites guarded by cheap probes, no-ops for plain queries
    s = SpecialEngines.rewriteReads(s)
    s = rewriteNamedWindows(s)
    s = rewriteScalarWith(s)
    s = rewriteBracketArrays(s)
    s = rewriteCasts(s)
    s = rewriteNestedRefs(s)
    s = "(?i)\\bnumbers\\s*\\(\\s*([0-9]+)\\s*\\)".r.replaceAllIn(s,
      m => s"(SELECT id AS number FROM range(${m.group(1)}))")
    // two-arg ClickHouse form numbers(offset, count): rows
    // offset..offset+count-1 — also what lets the bench fixture load in
    // bounded chunks (each INSERT shuffles only its slice)
    s = "(?i)\\bnumbers\\s*\\(\\s*([0-9]+)\\s*,\\s*([0-9]+)\\s*\\)".r
      .replaceAllIn(s, m => {
        val off = java.lang.Long.parseLong(m.group(1))
        val cnt = java.lang.Long.parseLong(m.group(2))
        s"(SELECT id AS number FROM range($off, ${off + cnt}))"
      })
    // cluster()/remote() collapse to the local table: single-node, the
    // local table IS every shard (GLOBAL-join semantics are n/a, J6)
    s = ("(?i)\\bcluster(?:AllReplicas)?\\s*\\(\\s*'[^']*'\\s*,\\s*" +
      "([\\w`.]+)\\s*\\)").r.replaceAllIn(s, m => m.group(1))
    s = ("(?i)\\bremote(?:Secure)?\\s*\\(\\s*'[^']*'\\s*,\\s*" +
      "([\\w`.]+)\\s*(?:,\\s*'[^']*'\\s*)*\\)").r
      .replaceAllIn(s, m => m.group(1))
    // interval units Spark lacks: QUARTER → months, WEEK → days
    s = "(?i)\\bINTERVAL\\s+(\\d+)\\s+QUARTER(S)?\\b".r.replaceAllIn(s,
      m => s"INTERVAL ${m.group(1).toLong * 3} MONTH")
    s = "(?i)\\bINTERVAL\\s+(\\d+)\\s+WEEK(S)?\\b".r.replaceAllIn(s,
      m => s"INTERVAL ${m.group(1).toLong * 7} DAY")
    // the "infinite" system.numbers table: a long lazy Range — LIMIT
    // pushes into the scan (LocalLimit over Range reads only what it
    // needs), matching the only sane way clients use it
    s = "(?i)\\bsystem\\.numbers\\b".r.replaceAllIn(s,
      "(SELECT id AS number FROM range(9223372036854775807))")
    s = "(?i)\\bcount\\s*\\(\\s*\\)".r.replaceAllIn(s, "count(*)")
    // parameterized aggregates fn(param)(arg) -> plain two-arg calls;
    // the arg group is bracket-matched so it may nest arbitrarily (and
    // hold further calls of the same aggregate, rewritten first)
    def rewriteParameterized(sql: String, chName: String,
                             emit: (String, String) => String): String = {
      // params: bare tokens or single-quoted strings — the strings may
      // contain parens (sequenceMatch('(?1).*(?2)')), so parens are
      // only excluded OUTSIDE quotes
      val re = s"(?i)\\b$chName\\s*\\(((?:[^()']|'[^']*')*)\\)\\s*\\(".r
      if (re.findFirstIn(sql).isEmpty) sql
      else SqlScan(sql).replaceCalls(re) { (m, close) =>
        emit(m.group(1).trim,
          rewriteParameterized(sql.substring(m.end, close), chName, emit))
      }
    }
    // quantileExact family: ClickHouse's exact rule is nth_element at
    // 0-based index min(floor(p*n), n-1) of the sorted values
    // (AggregateFunctionQuantileExact — NOT the interpolated
    // percentile). Exactness requires materializing the group's values
    // (ClickHouse's own quantileExact does too); quantile() below stays
    // the scale path.
    def exactRank(p: String, arg: String): String =
      s"(CASE WHEN count($arg) > 0 THEN element_at(array_sort(collect_list($arg)), " +
        s"cast(least(floor(($p) * count($arg)), count($arg) - 1) as int) + 1) END)"
    s = rewriteParameterized(s, "quantilesExact",
      (ps, arg) => "array(" +
        ps.split(",").map(p => exactRank(p.trim, arg)).mkString(", ") + ")")
    // quantiles(p1,p2,..)(x) -> percentile(x, array(p1,p2,..))
    s = rewriteParameterized(s, "quantiles",
      (ps, arg) => s"percentile($arg, array($ps))")
    // Low/High: element at floor/ceil of p*(n-1) — ClickHouse's
    // python-median_low/median_high analogs (docs: quantileExactLow /
    // quantileExactHigh), distinct from plain quantileExact's
    // floor(p*n) nth_element rule
    def exactLowHigh(p: String, arg: String, f: String): String =
      s"(CASE WHEN count($arg) > 0 THEN element_at(array_sort(collect_list($arg)), " +
        s"cast($f(($p) * (count($arg) - 1)) as int) + 1) END)"
    s = rewriteParameterized(s, "quantileExactLow",
      (p, arg) => exactLowHigh(p, arg, "floor"))
    s = rewriteParameterized(s, "quantileExactHigh",
      (p, arg) => exactLowHigh(p, arg, "ceil"))
    s = rewriteParameterized(s, "quantileExact", exactRank)
    // quantileTiming: mapped to the exact rank rule over round+clamp to
    // [0, 30000] ms, double result (CH: Float32). INTENTIONAL
    // DIVERGENCE at large state: ClickHouse's QuantileTiming is only
    // exact while the state is small (<=5670 values / values <=1024);
    // beyond that it coarsens to 16 ms bins. Here the answer stays
    // exact at every scale — a strictly tighter result than the
    // upstream sketch, never a different distribution model.
    s = rewriteParameterized(s, "quantileTiming", (p, arg) =>
      s"cast(${exactRank(p,
        s"least(greatest(round(cast(($arg) as double)), 0D), 30000D)")} as double)")
    // quantile(p)(x) -> percentile(x, p)
    s = rewriteParameterized(s, "quantile",
      (p, arg) => s"percentile($arg, $p)")
    // topK(k)(x) -> topKAgg(x, k) (space-saving sketch aggregate)
    s = rewriteParameterized(s, "topKWeighted",
      (k, arg) => s"topKWeightedAgg($arg, $k)")
    s = rewriteParameterized(s, "topK", (k, arg) => s"topKAgg($arg, $k)")
    // groupArraySorted(n)(x): the n smallest values, sorted
    s = rewriteParameterized(s, "groupArraySorted",
      (n, arg) => s"slice(arraySort(groupArray($arg)), 1, $n)")
    s = rewriteParameterized(s, "histogram",
      (n, arg) => s"histogramAgg($n, $arg)")
    // windowFunnel(W[, modes...])(ts, c1, ..) -> flat aggregate; modes
    // pack into one literal bitmask (1=strict_increase, 2=strict_order,
    // 4=strict_deduplication)
    s = rewriteParameterized(s, "windowFunnel", (p, arg) => {
      val parts = p.split(",").map(_.trim)
      val flags =
        (if (parts.exists(_.contains("strict_increase"))) 1 else 0) |
        (if (parts.exists(_.contains("strict_order"))) 2 else 0) |
        (if (parts.exists(x => x.contains("strict_dedup") ||
             x.contains("strict_deduplication"))) 4 else 0)
      s"windowFunnelAgg(${parts.head}, $flags, $arg)"
    })
    s = rewriteParameterized(s, "sequenceMatch",
      (pat, arg) => s"sequenceMatchAgg($pat, $arg)")
    s = rewriteParameterized(s, "sequenceCount",
      (pat, arg) => s"sequenceCountAgg($pat, $arg)")
    // uniqUpTo(N)(x): exact distinct count saturating at N+1
    s = rewriteParameterized(s, "uniqUpTo",
      (n, arg) => s"least(uniqExact($arg), ${n.trim.toLong + 1})")
    // type names (word-bounded, case-sensitive like ClickHouse);
    // parameterized DateTime64(p[,tz]) first (word-boundary can't see it)
    s = "(?i)\\bDateTime64\\s*\\(\\s*\\d+\\s*(?:,\\s*'[^']*'\\s*)?\\)".r
      .replaceAllIn(s, "TIMESTAMP")
    s = s.replaceAll("\\bDate32\\b", "DATE")
    typeNames.foreach { case (ch, sp) =>
      s = s.replaceAll(s"\\b$ch\\b", sp)
    }
    // EXTRACT(unit FROM ts) -> date_part('unit', ts): ClickHouse has
    // BOTH extract(haystack, re) (regex, in the registry) and the SQL
    // EXTRACT(part FROM date) form, disambiguated by its parser; the
    // registry name shadows Spark's grammar form, so the date form is
    // rewritten away before parsing
    s = "(?i)\\bextract\\s*\\(\\s*(\\w+)\\s+FROM\\s+".r.replaceAllIn(s,
      m => s"date_part('${m.group(1).toUpperCase}', ")
    // dateDiff('day', a, b) -> chDateDiff (the parser special-cases the
    // dateDiff name before registry lookup, so it needs a rename; the
    // registry builder counts UNIT BOUNDARIES crossed, ClickHouse
    // semantics — Spark's timestampdiff counts elapsed complete units,
    // which disagrees for month/quarter/year)
    s = "(?i)\\bdateDiff\\s*\\(\\s*'(\\w+)'\\s*,".r.replaceAllIn(s,
      m => s"chDateDiff('${m.group(1).toLowerCase}',")
    // age('unit', a, b) — ClickHouse's ELAPSED-complete-units
    // counterpart of dateDiff — is exactly Spark's timestampdiff
    s = "(?i)\\bage\\s*\\(\\s*'(\\w+)'\\s*,".r.replaceAllIn(s,
      m => s"timestampdiff(${m.group(1).toUpperCase},")
    // GROUP BY k WITH TOTALS -> GROUPING SETS ((k), ()) — the totals
    // row is the empty grouping set (reference protocol TOTALS packet,
    // main.py:61; SURVEY §2.4 G6). Depth-aware spans (any nesting
    // level, spliced right-to-left so indices stay valid): a lazy
    // regex here latched onto a GROUP BY inside a derived table and
    // emitted unbalanced GROUPING SETS for valid queries.
    s = totalsSpans(s).sortBy(-_._1).foldLeft(s) {
      case (acc, (gbStart, keysStart, totStart, totEnd, _)) =>
        val keys = acc.substring(keysStart, totStart).trim
        acc.substring(0, gbStart) +
          s"GROUP BY GROUPING SETS (($keys), ())" + acc.substring(totEnd)
    }
    s = rewriteArrayJoin(s)
    // `* EXCEPT col` (paren-less ClickHouse form) -> `* EXCEPT (col)`;
    // the parenthesized form is Spark-native syntax and passes through.
    // Negative lookahead keeps the EXCEPT set operator (followed by
    // SELECT/ALL/DISTINCT or an opening paren) untouched.
    s = "(?i)\\*\\s+EXCEPT\\s+(?!\\(|SELECT\\b|ALL\\b|DISTINCT\\b)(`?\\w+`?)".r
      .replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
        s"* EXCEPT (${m.group(1)})"))
    s = rewriteStarReplace(s)
    s = rewriteQualify(s)
    // PREWHERE is ClickHouse's manual pushdown hint; Catalyst pushes
    // predicates itself, so it merges into WHERE (both present -> AND)
    "(?is)\\bPREWHERE\\s+(.+?)(\\s+WHERE\\s+)(.+?)(\\s+GROUP\\s+BY|\\s+ORDER\\s+BY|\\s+LIMIT|\\s*$)".r
      .findFirstMatchIn(s).foreach { m =>
        s = s.substring(0, m.start) +
          s" WHERE (${m.group(1).trim}) AND (${m.group(3).trim})" + m.group(4) +
          s.substring(m.end)
      }
    s = "(?i)\\bPREWHERE\\b".r.replaceAllIn(s, "WHERE")
    // FINAL (merge-on-read de-dup hint) and GLOBAL (distributed-join
    // modifier) are storage/topology hints with no Spark analog — drop
    s = "(?i)\\bFINAL\\b(?=\\s|$)".r.replaceAllIn(s, " ")
    s = "(?i)\\bGLOBAL\\s+(?=(ANY\\s+|ALL\\s+)?(INNER|LEFT|RIGHT|FULL|CROSS|JOIN|IN|NOT))".r
      .replaceAllIn(s, "")
    // trailing SETTINGS name=value[, ...] — per-query knobs clients
    // append; a useful subset is honored upstream (Engine.query calls
    // extractSettings first), the rest accepted and dropped here
    s = settingsRe.replaceAllIn(s, "")
    // ClickHouse `LIMIT offset, n` -> standard LIMIT n OFFSET offset
    s = "(?i)\\bLIMIT\\s+(\\d+)\\s*,\\s*(\\d+)".r
      .replaceAllIn(s, m => s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}")
    // SAMPLE 0.1 -> TABLESAMPLE (10 PERCENT) (SURVEY §4 mapping).
    // Fallback for tables with no SAMPLE BY key: Engine.query rewrites
    // keyed tables to the deterministic subset BEFORE this runs.
    s = "(?i)\\bSAMPLE\\s+(0?\\.\\d+)".r.replaceAllIn(s,
      m => s"TABLESAMPLE (${(m.group(1).toDouble * 100).round} PERCENT)")
    s = rewriteTernaries(s)
    s
  }

  /** Standard-SQL / ClickHouse named `WINDOW w AS (spec)[, w2 AS ...]`
    * clause (between HAVING and ORDER BY). Spark's parser has no WINDOW
    * clause, so each definition is inlined at its `OVER w` use sites and
    * the clause itself removed. Runs per clause occurrence, so nested
    * subqueries each resolve their own window names (inner clauses are
    * found first because the scan restarts after every splice). */
  private def rewriteNamedWindows(sql0: String): String = {
    val openRe = "(?is)\\bWINDOW\\s+(\\w+)\\s+AS\\s*\\(".r
    var s = sql0
    var guard = 0
    while (guard < 32) {
      guard += 1
      if (openRe.findFirstIn(s).isEmpty) return s
      val sc = SqlScan(s)
      val mm = sc.codeMatches(openRe).nextOption().getOrElse(return s)
      var defs = List.empty[(String, String)]
      val cursor = mm.start
      var name = mm.group(1)
      var open = mm.end - 1
      var end = cursor
      var continue = true
      while (continue) {
        val close = sc.closing(open)
        if (close < 0) return s
        defs ::= (name -> s.substring(open + 1, close))
        end = close + 1
        // another comma-separated definition?
        "(?is)^\\s*,\\s*(\\w+)\\s+AS\\s*\\(".r
          .findFirstMatchIn(s.substring(end)) match {
          case Some(n) => name = n.group(1); open = end + n.end - 1
          case None => continue = false
        }
      }
      // Scope of these names is the enclosing SELECT block only: a
      // sibling scope (another UNION branch) may define the same window
      // name, so the OVER-substitution must not cross a same-depth set
      // operator or the enclosing parens.
      val myDepth = sc.depth(cursor)
      def atMyDepth(x: Regex.Match) = sc.depth(x.start) == myDepth
      val scopeStart = sc.codeMatches("(?i)\\bSELECT\\b".r)
        .takeWhile(_.end <= cursor).filter(atMyDepth)
        .map(_.start).toList.lastOption.getOrElse(0)
      var scopeEnd = (end until s.length)
        .find(j => s.charAt(j) == ')' && sc.depth(j) == myDepth && sc.isCode(j))
        .getOrElse(s.length)
      sc.codeMatches("(?i)\\b(UNION|INTERSECT|EXCEPT)\\b".r, end)
        .takeWhile(_.end <= scopeEnd).find(atMyDepth)
        .foreach(x => scopeEnd = x.start)
      val rest0 = s.substring(0, cursor) + s.substring(end)
      val segEnd = scopeEnd - (end - cursor)
      var seg = rest0.substring(scopeStart, segEnd)
      defs.foreach { case (w, spec) =>
        seg = s"(?i)\\bOVER\\s+$w\\b".r.replaceAllIn(seg,
          java.util.regex.Matcher.quoteReplacement(s"OVER ($spec)"))
      }
      s = rest0.substring(0, scopeStart) + seg + rest0.substring(segEnd)
    }
    s
  }

  /** `SELECT * REPLACE (expr AS col, ...)` (ClickHouse star modifier):
    * Spark has no REPLACE, so it becomes `* EXCEPT (cols...), expr AS
    * col, ...` — same column SET and values; the replaced columns move
    * to the end of the star expansion (position-sensitive callers
    * should list columns explicitly). Composes with a following EXCEPT. */
  private def rewriteStarReplace(sql: String): String = {
    val re = "(?i)\\*\\s+REPLACE\\s*\\(".r
    if (re.findFirstIn(sql).isEmpty) return sql
    val sc = SqlScan(sql)
    sc.replaceCalls(re) { (m, close) =>
      val items = sc.split(',', m.end, close).map(_.trim)
      val names = items.flatMap(it =>
        "(?is)\\s+AS\\s+`?(\\w+)`?\\s*$".r.findFirstMatchIn(it).map(_.group(1)))
      if (names.length != items.length) sql.substring(m.start, close + 1)
      else s"* EXCEPT (${names.mkString(", ")}), ${items.mkString(", ")}"
    }
  }

  /** `QUALIFY cond` — the post-window filter (ClickHouse, DuckDB,
    * Snowflake all have it; Spark doesn't). The condition becomes an
    * extra projected column inside a subquery and the filter moves
    * outside:
    * `SELECT list FROM ... QUALIFY c [tail]` ->
    * `SELECT * EXCEPT (__q) FROM (SELECT list, (c) AS __q FROM ...)
    *  WHERE __q [tail]`.
    * Select-list aliases referenced by the condition are inlined first
    * (Spark's lateral column alias cannot see window-expression
    * aliases). Top-level statements only — a QUALIFY inside a subquery
    * fails loudly in the parser rather than silently mis-filtering. */
  private def rewriteQualify(s: String): String = {
    if ("(?i)\\bQUALIFY\\b".r.findFirstIn(s).isEmpty) return s
    val sc = SqlScan(s)
    val qIdx = sc.keyword("QUALIFY")
    if (qIdx < 0) return s
    val selIdx = sc.keyword("SELECT")
    if (selIdx < 0 || selIdx > qIdx) return s
    val listStart = selIdx + "SELECT".length
    val fromIdx = sc.keyword("FROM", listStart)
    if (fromIdx < 0 || fromIdx > qIdx) return s
    val selectList = s.substring(listStart, fromIdx).trim
    if (selectList.toUpperCase.startsWith("DISTINCT")) return s
    val mid = s.substring(fromIdx, qIdx) // FROM ... [WHERE/GROUP/HAVING]
    val condFrom = qIdx + "QUALIFY".length
    val condEnd = Seq("ORDER", "LIMIT", "SETTINGS", "UNION", "INTO", "FORMAT")
      .map(sc.keyword(_, condFrom)).filter(_ >= 0).minOption.getOrElse(s.length)
    // inline computed select aliases the condition references
    val cond = inlineAliases(s.substring(condFrom, condEnd).trim,
      computedAliases(sc.split(',', listStart, fromIdx)))
    val tail = s.substring(condEnd)
    s.substring(0, selIdx) +
      s"SELECT * EXCEPT (__q) FROM (SELECT $selectList, ($cond) AS __q " +
      s"$mid) __qualify WHERE __q" +
      (if (tail.nonEmpty) " " + tail else "")
  }

  /** (alias, expr) of each computed `expr AS alias` select item. */
  private def computedAliases(items: Seq[String]): Seq[(String, String)] =
    items.flatMap { it =>
      "(?is)^(.*\\S)\\s+AS\\s+`?(\\w+)`?\\s*$".r.findFirstMatchIn(it.trim)
        .map(x => (x.group(2), x.group(1).trim))
    }.filter { case (a, e) => !e.equalsIgnoreCase(a) }

  /** `text` with every unqualified code reference to an alias (never a
    * function-call name) inlined as `(expr)`, alias by alias. */
  private def inlineAliases(text: String, pairs: Seq[(String, String)]): String =
    pairs.foldLeft(text) { case (t, (alias, expr)) =>
      SqlScan(t).replaceInCode(("(?<![.\\w`])" +
        java.util.regex.Pattern.quote(alias) + "\\b(?!\\s*\\()").r, _ => s"($expr)")
    }

  private val settingsRe =
    "(?is)\\bSETTINGS\\s+\\w+\\s*=\\s*[^,\\s]+(\\s*,\\s*\\w+\\s*=\\s*[^,\\s]+)*\\s*$".r

  /** Split a trailing `SETTINGS k=v[, ...]` clause off a statement:
    * (sql without the clause, lowercased name → unquoted value).
    * ClickHouse passes these to the engine (reference relays them to
    * chdb, main.py:190); [[graft.dialect.Engine]] honors a subset. */
  def extractSettings(sql: String): (String, Map[String, String]) =
    settingsRe.findFirstMatchIn(sql) match {
      case Some(m) =>
        val kvs = m.matched.replaceFirst("(?is)^\\s*SETTINGS\\s+", "")
          .split(",").iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
            val Array(k, v) = kv.split("=", 2).map(_.trim)
            k.toLowerCase -> v.stripPrefix("'").stripSuffix("'")
          }.toMap
        (sql.substring(0, m.start) + sql.substring(m.end), kvs)
      case None => (sql, Map.empty)
    }

  /** ClickHouse resolves SELECT-list aliases everywhere in the
    * statement (`SELECT round(x,2) AS y FROM t WHERE y > 0`); Spark
    * resolves them in GROUP/ORDER but not WHERE/HAVING-with-aggregate.
    * This produces the alias-substituted form: every computed
    * `expr AS alias` from the TOP-LEVEL select list is inlined as
    * `(expr)` into the clause tail (after FROM, outside strings,
    * unqualified references only). Returns None when there is nothing
    * to substitute. Callers use it as an UNRESOLVED_COLUMN retry, so a
    * query Spark already resolves never changes meaning. */
  private[graft] def substituteSelectAliases(sql: String): Option[String] = {
    val head = "(?is)^(\\s*SELECT\\s+(?:DISTINCT\\s+)?)".r
      .findFirstMatchIn(sql).getOrElse(return None)
    // top-level FROM ends the select list
    val sc = SqlScan(sql)
    val fromAt = sc.keyword("FROM", head.end)
    if (fromAt < 0) return None
    val pairs = computedAliases(sc.split(',', head.end, fromAt))
    if (pairs.isEmpty) None
    else Some(sql.substring(0, fromAt) + inlineAliases(sql.substring(fromAt), pairs))
  }

  private val arrayJoinRe =
    ("(?is)\\b(LEFT\\s+)?ARRAY\\s+JOIN\\s+(.+?)" +
      "(?=\\s+(WHERE|PREWHERE|GROUP|ORDER|LIMIT|HAVING|SETTINGS|UNION)\\b|\\s*$)").r

  /** ClickHouse `[LEFT] ARRAY JOIN e1 AS n1[, e2 AS n2 ...]`
    * (lateral flatten; the arrayJoin()-the-function form is handled by
    * the registry). One array → LATERAL VIEW explode (explode_outer
    * for LEFT, which keeps empty-array rows). Several arrays →
    * ClickHouse zip semantics (parallel iteration, all arrays sized
    * like the first): LATERAL VIEW inline over an array of
    * named_structs built per index, so each alias becomes a generated
    * column with no reference rewriting. */
  private[dialect] def rewriteArrayJoin(sql: String): String = {
    if (arrayJoinRe.findFirstIn(sql).isEmpty) return sql
    // loop (not replaceAllIn): bare items need reference qualification
    // in the surrounding text, outside the matched clause
    var out = sql
    var start = 0
    var guard = 0
    var done = false
    while (!done && guard < 16) {
      guard += 1
      val sc = SqlScan(out)
      sc.codeMatches(arrayJoinRe).nextOption()
        .filter(_.start >= start) match { // don't re-visit what we produced
        case None => done = true
        case Some(m) =>
          val (replaced, subs) = rewriteOneArrayJoin(sc, m)
          if (replaced == m.matched) done = true
          else {
            var before = out.substring(0, m.start)
            var after = out.substring(m.end)
            subs.foreach { case (re, rep) =>
              before = SqlScan(before).replaceInCode(re, rep)
              after = SqlScan(after).replaceInCode(re, rep)
            }
            out = before + replaced + after
            start = before.length + replaced.length
          }
      }
    }
    out
  }

  /** One ARRAY JOIN clause → (replacement text, reference
    * substitutions to apply OUTSIDE the clause). Forms:
    *   - `expr AS alias, ...`  — no substitutions needed
    *   - bare column `X`       — explode under the lateral-view alias;
    *     outside references qualify as `graft_aj.X` (a same-named
    *     generated column is AMBIGUOUS_REFERENCE otherwise)
    *   - bare Nested prefix    — expands to the prefix's parallel
    *     `` `X.f` `` arrays (zip semantics, ClickHouse's own model);
    *     dotted refs qualify as `` graft_aj.`X.f` `` */
  private def rewriteOneArrayJoin(sc: SqlScan, m: Regex.Match)
      : (String, Seq[(Regex, Regex.Match => String)]) = {
      val outer = m.group(1) != null
      // the clause ends early at a bracket closing an enclosing group
      // (`FROM (SELECT ... ARRAY JOIN a AS x) s`) or before a
      // relational JOIN at its own depth
      val (from, until) = (m.start(2), m.end(2))
      val d = sc.depth(from)
      val cut = ((from until until).find(i => sc.isCode(i) &&
          sc.depth(i) == d && ")]".indexOf(sc.text.charAt(i)) >= 0) ++
        sc.codeMatches(
          "(?is)\\s(?:(?:INNER|LEFT|RIGHT|FULL|CROSS|SEMI|ANTI)\\s+)?JOIN\\b".r, from)
          .takeWhile(_.start < until).find(j => sc.depth(j.start) == d)
          .map(_.start)).minOption.getOrElse(until)
      val tail = sc.text.substring(cut, until)
      val itemRe = "(?is)^(.+?)\\s+AS\\s+(\\w+)$".r
      val bareRe = "(?is)^`?(\\w+)`?$".r
      val subs = scala.collection.mutable.ArrayBuffer.empty[(Regex, Regex.Match => String)]
      val items = sc.split(',', from, cut).map(_.trim)
        .map { it =>
          itemRe.findFirstMatchIn(it)
            .map(x => Seq((x.group(1), x.group(2))))
            .orElse(bareRe.findFirstMatchIn(it).map { x =>
              val name = x.group(1)
              nestedColumns.get(name.toLowerCase) match {
                case Some(fields) =>
                  // a quoted identifier is not code: match the code
                  // character before its opening backtick
                  fields.foreach { f =>
                    subs += (("([^.])" +
                      java.util.regex.Pattern.quote(s"`$name.$f`")).r,
                      x => x.group(1) + s"graft_aj.`$name.$f`")
                  }
                  fields.map(f => (s"`$name.$f`", s"$name.$f"))
                case None =>
                  // skip qualified refs (x.name), backticked spans, and
                  // alias definitions (AS name) — those declare, not use
                  subs += (("(?<![.\\w`])(?<!(?i:\\bAS)\\s{1,20})" +
                    java.util.regex.Pattern.quote(name) + "\\b(?!\\s*`)").r,
                    _ => s"graft_aj.$name")
                  Seq((name, name))
              }
            })
        }
      if (items.exists(_.isEmpty)) (m.matched, Nil) // unsupported: leave as-is
      else {
        val cols = items.flatten.flatten
        val rewritten =
          if (cols.length == 1) {
            val fn = if (outer) "explode_outer" else "explode"
            s"LATERAL VIEW $fn(${cols.head._1}) graft_aj AS ${cols.head._2}"
          } else {
            // ClickHouse zip semantics, all arrays indexed like the
            // first. The first array is evaluated ONCE (bound as a
            // lambda variable — Catalyst inlines plain aliases and
            // would re-evaluate a heavy expression per reference);
            // shorter/longer later arrays null-pad/truncate where
            // ClickHouse raises a size-mismatch error (documented
            // divergence: the fill value is NULL, not an error).
            val fn = if (outer) "inline_outer" else "inline"
            val restFields = cols.tail.map { case (e, n) => s"'$n', ($e)[graft_i]" }
            val fields = (s"'${cols.head._2}', graft_a[graft_i]" +: restFields)
              .mkString(", ")
            val zipped = s"transform(sequence(0, size(graft_a) - 1), " +
              s"graft_i -> named_struct($fields))"
            // sequence(0, -1) counts DOWN; guard the empty-array case
            s"LATERAL VIEW $fn(transform(array(${cols.head._1}), " +
              s"graft_a -> if(size(graft_a) < 1, array(), $zipped))[0]) graft_aj"
          }
        (rewritten + tail, subs.toSeq)
      }
  }

  /** `['a', 'b']` array literals → `array('a', 'b')`. A `[` directly
    * after an identifier/closing paren/bracket/string is a subscript
    * (`m['key']`, `arr[1]`) and is left alone. */
  private[dialect] def rewriteBracketArrays(s: String): String = {
    if (s.indexOf('[') < 0) return s
    val sc = SqlScan(s)
    val sb = new StringBuilder
    val stack = scala.collection.mutable.Stack[Boolean]() // true = converted
    for (i <- s.indices) {
      val c = s.charAt(i)
      if (!sc.isCode(i)) sb.append(c)
      else if (c == '[') {
        // subscripts (`m['k']`, `arr[1]`) directly follow their base
        // expression with no whitespace; array literals don't
        val p = if (i > 0) s.charAt(i - 1) else ' '
        val subscript = p.isLetterOrDigit || "_)]'`\"".indexOf(p) >= 0
        stack.push(!subscript)
        sb.append(if (subscript) "[" else "array(")
      } else if (c == ']') sb.append(if (stack.nonEmpty && stack.pop()) ")" else "]")
      else sb.append(c)
    }
    sb.toString
  }

  /** Rewrite CAST targets: composite ClickHouse types become Spark DDL
    * syntax, and the ClickHouse tuple-of-arrays-to-Map idiom
    * `CAST((keys, values) AS Map(K, V))` (reference Play sample,
    * index.html:729) becomes `map_from_arrays(keys, values)` with an
    * element-wise map cast. */
  private[dialect] def rewriteCasts(sql: String): String = {
    val castRe = "(?i)\\bCAST\\s*\\(".r
    if (castRe.findFirstIn(sql).isEmpty) return sql
    SqlScan(sql).replaceCalls(castRe) { (m, close) =>
      val inner = rewriteCasts(sql.substring(m.end, close))
      // the last top-level ` AS ` separates the value from the type
      val isc = SqlScan(inner)
      isc.codeMatches("(?i)\\s(?=AS\\s)".r).filter(x => isc.depth(x.start) == 0)
        .map(_.start).toSeq.lastOption match {
        case None => s"CAST($inner)"
        case Some(asIdx) =>
          val expr = inner.substring(0, asIdx).trim
          val tpe = rewriteCompositeTypes(inner.substring(asIdx + 4).trim)
          val parts =
            if (tpe.toUpperCase.startsWith("MAP<") &&
                expr.startsWith("(") && expr.endsWith(")"))
              SqlScan(expr).split(',', 1, expr.length - 1)
            else Nil
          if (parts.length == 2)
            s"CAST(map_from_arrays(${parts(0).trim}, ${parts(1).trim}) AS $tpe)"
          else s"CAST($expr AS $tpe)"
      }
    }
  }

  private val withFillRe =
    ("(?is)^(.*)\\bORDER\\s+BY\\s+([\\w`.,\\s]+?)\\s+WITH\\s+FILL\\s+" +
      "FROM\\s+(-?\\d+)\\s+TO\\s+(-?\\d+)(?:\\s+STEP\\s+(-?\\d+))?" +
      "(?:\\s+INTERPOLATE\\s*\\(([^)]*)\\))?\\s*$").r

  /** `ORDER BY [k1, k2, ...,] col WITH FILL FROM a TO b [STEP s]`:
    * returns (inner sql, prefix keys with asc flag, (fill col, asc),
    * from, to, step). WITH FILL attaches to the last sort key; keys
    * before it become per-group prefixes (ClickHouse fills the grid
    * within every distinct prefix combination). Each key keeps its
    * ASC/DESC direction — the fill operator re-sorts after the union,
    * so the ORDER BY is stripped from the inner query entirely
    * (sorting twice is pure waste at scale). Only plain column keys
    * qualify (expressions fall through to the single-statement path
    * and fail loudly rather than mis-fill). */
  def withFillParts(sql: String)
      : Option[(String, Seq[(String, Boolean)], (String, Boolean), Long, Long, Long, Seq[String])] =
    withFillRe.findFirstMatchIn(sql).flatMap { m =>
      val dirRe = "(?i)\\s+(ASC|DESC)$".r
      val keys = m.group(2).split(",").map(_.trim.replace("`", "")).toSeq
        .map { k =>
          val asc = !dirRe.findFirstMatchIn(k)
            .exists(_.group(1).equalsIgnoreCase("DESC"))
          (dirRe.replaceAllIn(k, ""), asc)
        }
      // INTERPOLATE items: the carry-forward forms `col` / `col AS col`
      // are supported; a general `col AS expr` (sequential per-gap
      // re-evaluation) is not — fall through so the parser fails
      // loudly rather than mis-fill
      val interpItems = Option(m.group(6)).map(
        _.split(",").map(_.trim.replace("`", "")).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
      val interp = interpItems.map { it =>
        "(?is)^(\\w+)(?:\\s+AS\\s+(\\w+))?$".r.findFirstMatchIn(it) match {
          case Some(x) if x.group(2) == null || x.group(2) == x.group(1) =>
            Some(x.group(1))
          case _ => None
        }
      }
      if (keys.exists { case (k, _) => !k.matches("[\\w.]+") } ||
          interp.exists(_.isEmpty)) None
      else Some((m.group(1), keys.init, keys.last,
        m.group(3).toLong, m.group(4).toLong,
        Option(m.group(5)).map(_.toLong).getOrElse(1L),
        interp.flatten))
    }

  private val limitByRe =
    "(?is)^(.*?)\\s+LIMIT\\s+(\\d+)\\s+BY\\s+(.+?)(\\s+LIMIT\\s+(\\d+))?\\s*$".r

  /** ClickHouse `LIMIT n BY cols`: first n rows per distinct cols,
    * ordered by the query's ORDER BY. Returns None if the statement has
    * no LIMIT BY clause. */
  def limitByParts(sql: String): Option[(String, Int, Seq[String], Option[Int])] =
    limitByRe.findFirstMatchIn(sql).map { m =>
      val cols = m.group(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      (m.group(1), m.group(2).toInt, cols, Option(m.group(5)).map(_.toInt))
    }

  /** Rewrite every top-level `cond ? a : b` into if(...). The condition
    * gets a ClickHouse-truthiness wrap (`<> 0`) unless it already looks
    * boolean (contains a comparison/logic operator at depth 0). The
    * condition starts after the nearest comma, enclosing bracket or
    * clause keyword; the else branch ends at a comma, an unmatched
    * closer or a clause keyword at the same depth.
    */
  private[dialect] def rewriteTernaries(s: String): String = {
    if (s.indexOf('?') < 0) return s
    val sc = SqlScan(s)
    val qm = sc.codeMatches("\\?".r).nextOption().getOrElse(return s).start
    val d = sc.depth(qm)
    // first code char of `chars` at the ternary's depth from `from`
    def firstOf(chars: String, from: Int): Int = (from until s.length)
      .find(i => sc.isCode(i) && sc.depth(i) == d && chars.indexOf(s.charAt(i)) >= 0)
      .getOrElse(s.length)
    val colon = firstOf(":)]", qm + 1)
    if (colon == s.length || s.charAt(colon) != ':') return s
    val exprStart = sc.exprStart(qm)
    // after a clause keyword, skip its separating whitespace so the
    // keyword keeps it (`SELECT if(`, never `SELECTif(`)
    val condStart = sc.codeMatches(ternaryClauseKw, exprStart)
      .takeWhile(_.end <= qm).filter(k => sc.depth(k.start) == d)
      .map(_.end).toSeq.lastOption
      .map(e => s.indexWhere(!_.isWhitespace, e))
      .getOrElse(exprStart)
    val elseEnd = math.min(firstOf(",)]", colon + 1),
      sc.codeMatches(ternaryEndKw, colon + 1).find(k => sc.depth(k.start) == d)
        .map(_.start).getOrElse(s.length))
    val cond = s.substring(condStart, qm).trim
    val thenB = s.substring(qm + 1, colon).trim
    val elseB = s.substring(colon + 1, elseEnd).trim
    val condSql = if (looksBoolean(cond)) cond else s"($cond) <> 0"
    val rewritten = s.substring(0, condStart) +
      s"if($condSql, $thenB, $elseB)" + s.substring(elseEnd)
    rewriteTernaries(rewritten)
  }

  private val ternaryClauseKw =
    "(?i)\\b(SELECT|WHERE|WHEN|THEN|ELSE|BY|HAVING|ON)\\b".r
  private val ternaryEndKw =
    "(?is)\\s+(AS|FROM|ORDER|GROUP|WHERE|LIMIT|HAVING|UNION|WHEN|THEN|ELSE|END)\\b".r

  private def looksBoolean(cond: String): Boolean =
    "(?i)(=|<|>|!=|<>|\\bLIKE\\b|\\bIN\\b|\\bAND\\b|\\bOR\\b|\\bNOT\\b|\\bIS\\b|\\bBETWEEN\\b|\\bEXISTS\\b)"
      .r.findFirstIn(cond).isDefined

  /** Run ClickHouse-dialect SQL on a session (fixture tables must
    * already be registered as views — see [[ChContext]]). */
  def sql(spark: SparkSession, chSql: String): DataFrame = {
    ChFunctions.register(spark)
    val (bare, _) = extractFormat(chSql)
    spark.sql(transpile(expandStarModifiers(spark, bare)))
  }

  /** ClickHouse star modifiers that need schema expansion:
    * `* [EXCEPT (a, b)] APPLY(f)` and `COLUMNS('re') [APPLY(f)]`.
    * Like ClickHouse, expansion happens at analysis time: the FROM
    * clause's first table resolves through the catalog and the modifier
    * span is replaced with the expanded column list (APPLY wraps each
    * column as `f(col)` — ClickHouse's own result names). Statements
    * whose FROM cannot be resolved pass through untouched. `_part`
    * (the MergeTree partition materialization) never expands. */
  def expandStarModifiers(spark: SparkSession, sql: String): String = {
    val starApplyRe =
      ("(?is)\\*\\s*(?:EXCEPT\\s*\\(([^)]*)\\)\\s*)?APPLY\\s*\\(\\s*" +
        "([A-Za-z_][\\w]*)\\s*\\)").r
    val columnsRe =
      ("(?is)\\bCOLUMNS\\s*\\(\\s*'([^']+)'\\s*\\)" +
        "(?:\\s*APPLY\\s*\\(\\s*([A-Za-z_][\\w]*)\\s*\\))?").r
    if (starApplyRe.findFirstIn(sql).isEmpty &&
        columnsRe.findFirstIn(sql).isEmpty) return sql
    val cols: Seq[String] =
      "(?is)\\bFROM\\s+([\\w`.]+)".r.findFirstMatchIn(sql)
        .flatMap { m =>
          scala.util.Try(spark.table(m.group(1).replace("`", ""))
            .schema.fieldNames.toSeq).toOption
        }.getOrElse(return sql)
        .filterNot(_ == "_part")
    def applied(selected: Seq[String], fn: String): String =
      selected.map(c => s"$fn(`$c`) AS `$fn($c)`").mkString(", ")
    var out = starApplyRe.replaceAllIn(sql, m => {
      val except = Option(m.group(1)).toSeq
        .flatMap(_.split(",")).map(_.trim.replace("`", "").toLowerCase)
        .filter(_.nonEmpty).toSet
      java.util.regex.Matcher.quoteReplacement(
        applied(cols.filterNot(c => except(c.toLowerCase)), m.group(2)))
    })
    out = columnsRe.replaceAllIn(out, m => {
      val re = m.group(1).r
      val matched = cols.filter(c => re.findFirstIn(c).isDefined)
      java.util.regex.Matcher.quoteReplacement(Option(m.group(2)) match {
        case Some(fn) => applied(matched, fn)
        case None => matched.map(c => s"`$c`").mkString(", ")
      })
    })
    out
  }
}

/** Registers the dialect functions and the fixture parquet tables (as
  * temp views) so ClickHouse-dialect SQL can reference them by name.
  *
  * Setup runs no Spark job: fixture schemas come from parquet footers
  * read on the driver ([[graft.Tables.load]]), and the `system`
  * database holds only the static views `one` and `settings`. Every
  * other `system.*` table a client probes — databases, tables, columns,
  * functions, parts, query_log, … — is built live from driver-side
  * state for each statement that names it (`Engine.rewriteSystemParts`);
  * readers that bypass the engine (plain `spark.sql`) do not see them.
  */
object ChContext {
  def setup(spark: SparkSession, dir: String): Unit = {
    ChFunctions.register(spark)
    setupViews(spark, dir)
  }

  /** Temp views are session-scoped — per-user sessions re-register.
    * Re-registration for the SAME dir is skipped (queries call setup
    * per run; re-creating 10 views each time is pure overhead). */
  def setupViews(spark: SparkSession, dir: String): Unit = {
    if (spark.conf.getOption(viewsMarker).contains(dir)) return
    graft.Tables.names.foreach { t =>
      graft.Tables.load(spark, dir, t).createOrReplaceTempView(t)
    }
    graft.Tables.events(spark, dir).createOrReplaceTempView("events")
    setupSystemTables(spark)
    spark.conf.set(viewsMarker, dir)
  }

  private val viewsMarker = "graft.views.dir"

  /** The fixture views of `from`, if it has any, for `to`, a
    * short-lived session derived from it: registered from the relations
    * `from` already resolved, so no footer is read and nothing is
    * memoized for `to`. */
  def shareViews(from: SparkSession, to: SparkSession): Unit =
    from.conf.getOption(viewsMarker).foreach { dir =>
      val (src, dst) = (from.sessionState.catalog, to.sessionState.catalog)
      (graft.Tables.names :+ "events").foreach { t =>
        src.getRawTempView(t).foreach(dst.createTempView(t, _, overrideIfExists = true))
      }
      setupSystemTables(to)
      to.conf.set(viewsMarker, dir)
    }

  /** Live catalog frames behind system.databases/tables/columns, read
    * from the session catalog on the driver: a handful of rows and no
    * Spark job (`spark.catalog.listDatabases`/`listTables` each run a
    * SHOW command as a job, 64-121 ms apiece on a 4-core machine).
    * Built per statement, so post-DDL state is visible. */
  def databasesLive(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.sessionState.catalog.listDatabases().toDF("name")
  }

  /** Every table across ALL databases — `SHOW TABLES` only sees the
    * current one. Temp views list under database "" once. */
  private def allTables(spark: SparkSession)
      : Seq[org.apache.spark.sql.catalyst.TableIdentifier] = {
    val cat = spark.sessionState.catalog
    cat.listDatabases().flatMap(cat.listTables).distinct
  }

  def tablesLive(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    allTables(spark).map { ti =>
      val db = ti.database.getOrElse("")
      val norm = s"${if (db.isEmpty) "default" else db}.${ti.table}".toLowerCase
      val meta = Ddl.metaOf(norm)
      val engine = meta match {
        case Some(m) if m.engineSpec.nonEmpty =>
          m.engineSpec.get.takeWhile(_.isLetter)
        case Some(m) if m.replacingVer.nonEmpty => "ReplacingMergeTree"
        case Some(m) if m.summingCols.nonEmpty => "SummingMergeTree"
        case Some(m) if m.collapsing.exists(_._2.isEmpty) => "CollapsingMergeTree"
        case Some(m) if m.collapsing.nonEmpty => "VersionedCollapsingMergeTree"
        case Some(m) if m.aggregating => "AggregatingMergeTree"
        case Some(m) if m.partitionExpr.nonEmpty || m.orderBy.nonEmpty ||
            m.sampleBy.nonEmpty || m.ttl.nonEmpty => "MergeTree"
        case Some(_) => "Memory"
        case None => "View" // temp views + foreign registrations
      }
      (db, ti.table, engine, meta.flatMap(_.tableComment).getOrElse(""))
    }.toDF("database", "name", "engine", "comment")
  }

  /** Per-column catalog (ClickHouse system.columns shape the Play UI
    * and DBeaver-style clients probe for completion), from catalog
    * metadata. A file-backed table reads every column as nullable, as
    * `spark.table` does (only the top-level flag shows in the type
    * name); views keep the schema they were created with. */
  def columnsLive(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.catalog.CatalogTableType
    import org.apache.spark.sql.catalyst.util.CharVarcharUtils
    val cat = spark.sessionState.catalog
    val colRows = allTables(spark).flatMap { ti =>
      val db = ti.database.getOrElse("default")
      try {
        val meta = cat.getTempViewOrPermanentTableMetadata(ti)
        val view = meta.tableType == CatalogTableType.VIEW
        CharVarcharUtils.replaceCharVarcharWithStringInSchema(meta.schema)
          .fields.toSeq.zipWithIndex.map { case (f, i) =>
            val typ = graft.formats.ChTypeNames.fieldName(
              if (view) f else f.copy(nullable = true))
            (db, ti.table, f.name, typ, (i + 1).toLong)
          }
      } catch { case scala.util.control.NonFatal(_) => Seq.empty[(String, String, String, String, Long)] }
    }
    colRows.toDF("database", "table", "name", "type", "position")
  }

  /** The static part of the `system` database: `one` and `settings`
    * (the engine answers `system.settings` live; this view serves
    * readers that bypass it). Idempotent and job-free. */
  def setupSystemTables(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val cat = spark.sessionState.catalog
    spark.sql("CREATE DATABASE IF NOT EXISTS system")
    if (!cat.tableExists(TableIdentifier("one", Some("system"))))
      spark.sql("CREATE OR REPLACE VIEW system.one AS SELECT 0 AS dummy")
    if (!cat.tableExists(TableIdentifier("settings", Some("system"))))
      spark.sql("""
        CREATE OR REPLACE VIEW system.settings AS
        SELECT * FROM VALUES
          ('max_threads', '32', ''),
          ('session_timezone', 'UTC', ''),
          ('readonly', '0', '')
        AS t(name, value, description)""")
  }

  def sql(spark: SparkSession, dir: String, chSql: String): DataFrame = {
    setup(spark, dir)
    Transpiler.sql(spark, chSql)
  }
}
