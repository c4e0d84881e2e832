package graft.dialect

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** SQL-defined user functions — ClickHouse
  * `CREATE FUNCTION name AS (a, b) -> expr` / `DROP FUNCTION name`
  * (reference surface: the delegation point main.py:190; ClickHouse
  * 25.5 ships executable SQL UDFs).
  *
  * Model: a UDF here is a dialect-level MACRO, exactly like
  * ClickHouse's own SQL UDFs — the body is substituted at the call
  * site during query analysis, so the expanded expression plans and
  * codegens as if the user had written it inline. Nothing is
  * interpreted per-row and nothing blocks whole-stage codegen: at
  * 100 TB a UDF call costs the same as its hand-inlined expansion.
  *
  * Expansion is textual but string-aware and paren-matched: call
  * arguments and the substituted body are parenthesized (precedence-
  * safe), parameters substitute only at identifier boundaries outside
  * string literals, and UDFs may call other UDFs — expansion iterates
  * to a fixpoint with a depth cap that turns accidental recursion into
  * an error instead of a hang.
  *
  * Definitions persist in `<warehouse>/_graft_catalog/functions.json`
  * (the dictionaries/matviews pattern) and restore with the durable
  * catalog; `system.functions` lists them with origin
  * 'SQLUserDefined'.
  */
object UserFunctions {

  case class Udf(name: String, params: Seq[String], body: String)

  private val registry = TrieMap.empty[String, Udf]

  def all: Seq[Udf] = registry.values.toList.sortBy(_.name)

  def exists(name: String): Boolean =
    registry.contains(name.replace("`", "").toLowerCase)

  /** `orReplace` swaps the definition ATOMICALLY: validation (builtin
    * guard, lambda parse) happens before the registry is touched, so a
    * malformed replacement leaves the old function intact — ClickHouse
    * CREATE OR REPLACE semantics. */
  def create(spark: SparkSession, name0: String, lambda: String,
             ifNotExists: Boolean, orReplace: Boolean = false): Unit = {
    val name = name0.replace("`", "").trim
    val key = name.toLowerCase
    if (!orReplace && registry.contains(key)) {
      if (ifNotExists) return
      throw new IllegalArgumentException(
        s"function $name already exists (DROP FUNCTION it first)")
    }
    if (isBuiltin(name))
      throw new IllegalArgumentException(
        s"cannot create function $name: a built-in function with this name exists")
    val (params, body) = parseLambda(name, lambda)
    registry.put(key, Udf(name, params, body))
    CatalogStore.saveFunctions(spark)
  }

  def drop(spark: SparkSession, name0: String, ifExists: Boolean): Unit = {
    val key = name0.replace("`", "").trim.toLowerCase
    if (registry.remove(key).isEmpty && !ifExists)
      throw new IllegalArgumentException(s"function $name0 does not exist")
    CatalogStore.saveFunctions(spark)
  }

  /** Both the dialect registry AND Spark's own builtins: a UDF named
    * `lower` would macro-expand every lower() call in every query —
    * shadowing a builtin is never acceptable. */
  private def isBuiltin(name: String): Boolean =
    ChFunctions.functionInventory.exists(_._1.equalsIgnoreCase(name)) ||
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
        .functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name.toLowerCase))

  /** Durable-catalog restore path (no re-save). A persisted name that
    * collides with a builtin is skipped — heals catalogs written
    * before the guard covered Spark's own registry. */
  private[dialect] def restore(name: String, params: Seq[String],
                               body: String): Unit =
    if (!isBuiltin(name))
      registry.putIfAbsent(name.toLowerCase, Udf(name, params, body))

  private[graft] def forgetInMemory(name: String): Unit =
    registry.remove(name.replace("`", "").toLowerCase)

  /** `(a, b) -> expr`, `x -> expr`, `() -> expr`. */
  private def parseLambda(name: String, s0: String): (Seq[String], String) = {
    val s = s0.trim
    // the FIRST top-level `->` outside strings
    val sc = SqlScan(s)
    val arrow = sc.codeMatches("->".r).find(m => sc.depth(m.start) == 0)
      .map(_.start).getOrElse(-1)
    if (arrow < 0) throw new IllegalArgumentException(
      s"CREATE FUNCTION $name: body must be a lambda `(args) -> expression`")
    val head = s.substring(0, arrow).trim
    val body = s.substring(arrow + 2).trim
    if (body.isEmpty) throw new IllegalArgumentException(
      s"CREATE FUNCTION $name: empty body")
    val params: Seq[String] =
      if (head.startsWith("(") && head.endsWith(")"))
        head.substring(1, head.length - 1).split(",").toSeq
          .map(_.trim.replace("`", "")).filter(_.nonEmpty)
      else if (head.isEmpty) Seq.empty
      else Seq(head.replace("`", ""))
    params.foreach { p =>
      if (!p.matches("[A-Za-z_][\\w]*")) throw new IllegalArgumentException(
        s"CREATE FUNCTION $name: bad parameter name '$p'")
    }
    if (params.map(_.toLowerCase).distinct.length != params.length)
      throw new IllegalArgumentException(
        s"CREATE FUNCTION $name: duplicate parameter names")
    (params, body)
  }

  /** Substitute ALL parameters SIMULTANEOUSLY (identifier-boundary,
    * outside strings) with their parenthesized arguments — one pass over
    * the original body, never over substituted text. Sequential
    * substitution would capture: with `(x, k) -> k * x`, the call
    * `f(k, 2)` against a table column `k` first rewrites x→(k), then the
    * second pass rewrites THAT k→(2), silently producing (2)*((2))
    * instead of (2)*(k). ClickHouse substitutes argument ASTs
    * simultaneously; a single alternation pass is the textual
    * equivalent. */
  private def substParams(body: String, params: Seq[String],
                          args: Seq[String]): String = {
    if (params.isEmpty) return body
    val argFor: Map[String, String] =
      params.zip(args).map { case (p, a) => p.toLowerCase -> a }.toMap
    val re = ("(?i)(?<![\\w`])(" +
      params.map(java.util.regex.Pattern.quote).mkString("|") +
      ")(?![\\w`])").r
    SqlScan(body).replaceInCode(re, m => "(" + argFor(m.group(1).toLowerCase) + ")")
  }

  /** Macro-expand every registered UDF call in `sql0`, to a fixpoint
    * (UDFs may call UDFs). The depth cap makes accidental recursion a
    * clear error. No-op (and zero-cost) when no UDFs are defined. */
  def expand(sql0: String): String = {
    if (registry.isEmpty) return sql0
    var sql = sql0
    var rounds = 0
    // every SUBSTITUTION counts, not just outer rounds: a directly
    // self-recursive body re-matches inside its own expansion within
    // the inner loop, which never returns to the round counter — only
    // a per-substitution cap turns that into an error instead of an
    // unboundedly growing string
    var subs = 0
    def bumpSubs(): Unit = {
      subs += 1
      if (subs > 500) throw new IllegalArgumentException(
        "SQL UDF expansion exceeded 500 substitutions — recursive " +
          "CREATE FUNCTION definitions are not supported")
    }
    var changed = true
    while (changed) {
      changed = false
      rounds += 1
      if (rounds > 16) throw new IllegalArgumentException(
        "SQL UDF expansion exceeded depth 16 — recursive CREATE FUNCTION definitions are not supported")
      registry.values.foreach { udf =>
        val re = ("(?i)(?<![\\w`.])" +
          java.util.regex.Pattern.quote(udf.name) + "\\s*\\(").r
        // one scan per expansion: the text only changes there
        var sc = SqlScan(sql)
        var searchFrom = 0
        var continue = true
        while (continue) {
          sc.codeMatches(re, searchFrom).nextOption() match {
            case None => continue = false
            case Some(m) =>
              val close = sc.closing(m.end - 1)
              if (close < 0) continue = false
              else {
                val args = sc.split(',', m.end, close).map(_.trim).filter(_.nonEmpty)
                if (args.length != udf.params.length)
                  throw new IllegalArgumentException(
                    s"function ${udf.name} expects ${udf.params.length} " +
                      s"argument(s), got ${args.length}")
                val expanded = substParams(udf.body, udf.params, args)
                sql = sql.substring(0, m.start) + "(" + expanded + ")" +
                  sql.substring(close + 1)
                bumpSubs()
                changed = true
                searchFrom = m.start
                sc = SqlScan(sql)
              }
          }
        }
      }
    }
    sql
  }

  /** `system.functions` live face: built-ins + SQL UDFs with origin. */
  def snapshot(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (ChFunctions.functionInventory.map { case (n, agg) =>
      (n, if (agg) 1 else 0, "System")
    } ++ all.map(u => (u.name, 0, "SQLUserDefined")))
      .toDF("name", "is_aggregate", "origin")
  }
}
