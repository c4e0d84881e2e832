package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generates the sf0.1-shaped fixture tables the engine's queries read
  * (`graft.Tables.names`: the TPC-H-like star schema, `events`,
  * `documents`, `embeddings`) as one parquet directory per table.
  *
  * Every value is a hash of the row key, so the tables are identical on
  * every machine and under any partitioning. Row counts, column names,
  * column types, key ranges, date ranges and category sets follow the
  * sf0.1 fixture the engine's tests and `graft.Bench` read (money is
  * DOUBLE, timestamps TIMESTAMP_NTZ, as there); the values themselves
  * differ. The benchmark generates its tables because it may read
  * nothing outside its checkout. Documents repeat a small vocabulary
  * and every 50th document is a near-copy of its predecessor, so the
  * dedup operators find pairs; embeddings are uniform 64-dimensional
  * vectors.
  */
object Data {
  val rows: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 15000L,
    "supplier" -> 1000L, "part" -> 20000L, "orders" -> 150000L,
    "lineitem" -> 600000L, "events" -> 100000L, "documents" -> 5000L,
    "embeddings" -> 2000L)

  /** Uniform in [0, 1) from the row key and a salt. */
  private def u(key: String, salt: String): String =
    s"(pmod(xxhash64($key, '$salt'), 1000003) / 1000003.0)"
  /** Uniform integer in [0, n). */
  private def ui(key: String, salt: String, n: Int): String =
    s"CAST(pmod(xxhash64($key, '$salt'), $n) AS INT)"
  private def pick(key: String, salt: String, xs: Seq[String]): String =
    s"element_at(array(${xs.map(x => s"'$x'").mkString(", ")}), ${ui(key, salt, xs.size)} + 1)"
  private def day(key: String, salt: String, from: String, days: Int): String =
    s"CAST(date_add(DATE'$from', ${ui(key, salt, days)}) AS TIMESTAMP_NTZ)"
  private def money(key: String, salt: String, lo: Double, span: Double): String =
    s"CAST(round($lo + ${u(key, salt)} * $span, 2) AS DOUBLE)"

  private val vocab = Seq("a", "the", "spark", "query", "table", "row",
    "column", "scan", "filter", "join", "group", "agg", "sort", "order",
    "hash", "key", "value", "window", "stream", "batch", "merge", "part",
    "line", "customer", "vector", "data", "fast", "slow", "big", "small")

  private def table(spark: SparkSession, name: String): DataFrame = {
    val r = spark.range(rows(name)).toDF("id")
    def sel(cols: String*): DataFrame = r.selectExpr(cols: _*)
    name match {
      case "region" => sel("CAST(id AS INT) AS r_regionkey",
        "element_at(array('AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'), CAST(id AS INT) + 1) AS r_name")
      case "nation" => sel("CAST(id AS INT) AS n_nationkey",
        "concat('NATION_', id) AS n_name", "CAST(id % 5 AS INT) AS n_regionkey")
      case "customer" => sel("id AS c_custkey",
        "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name",
        s"${ui("id", "cn", 25)} AS c_nationkey",
        s"${money("id", "cb", -999.99, 10999.98)} AS c_acctbal",
        s"${pick("id", "cm", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))} AS c_mktsegment")
      case "supplier" => sel("id AS s_suppkey",
        "concat('Supplier#', lpad(CAST(id AS STRING), 9, '0')) AS s_name",
        s"${ui("id", "sn", 25)} AS s_nationkey",
        s"${money("id", "sb", -999.99, 10999.98)} AS s_acctbal")
      case "part" => sel("id AS p_partkey",
        s"concat(${pick("id", "pc", Seq("red", "blue", "green", "hot", "large", "small", "pale", "dark"))}, ' ', " +
          s"${pick("id", "pn", Seq("bolt", "ring", "nut", "screw", "gear", "pipe", "cog", "pin"))}) AS p_name",
        s"concat('Brand#', ${ui("id", "pb", 25)} + 1) AS p_brand",
        s"${pick("id", "pt", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))} AS p_type",
        s"${ui("id", "ps", 50)} + 1 AS p_size",
        "CAST(round(900 + (id % 1000) / 10.0, 2) AS DOUBLE) AS p_retailprice")
      case "orders" => sel("id AS o_orderkey",
        s"CAST(${ui("id", "oc", 15000)} AS BIGINT) AS o_custkey",
        s"${pick("id", "os", Seq("F", "O", "P"))} AS o_orderstatus",
        s"${money("id", "op", 1000, 499000)} AS o_totalprice",
        s"${day("id", "od", "1995-01-01", 2404)} AS o_orderdate",
        s"${pick("id", "oq", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} AS o_orderpriority")
      case "lineitem" => sel(
        s"CAST(${ui("id", "lo", 150000)} AS BIGINT) AS l_orderkey",
        s"CAST(${ui("id", "lp", 20000)} AS BIGINT) AS l_partkey",
        s"CAST(${ui("id", "ls", 1000)} AS BIGINT) AS l_suppkey",
        s"${ui("id", "ln", 7)} + 1 AS l_linenumber",
        s"CAST(${ui("id", "lq", 50)} + 1 AS DOUBLE) AS l_quantity",
        s"${money("id", "le", 900, 104100)} AS l_extendedprice",
        s"CAST(${ui("id", "ld", 11)} / 100.0 AS DOUBLE) AS l_discount",
        s"CAST(${ui("id", "lt", 9)} / 100.0 AS DOUBLE) AS l_tax",
        s"${pick("id", "lr", Seq("A", "N", "R"))} AS l_returnflag",
        s"${pick("id", "lx", Seq("F", "O"))} AS l_linestatus",
        s"${day("id", "lh", "1995-01-02", 2499)} AS l_shipdate")
      // one event every 25.92 s on average over January 2024; values
      // exponential with mean 50
      case "events" => sel("id AS event_id",
        s"CAST(timestampadd(MICROSECOND, CAST(id * 25920000 + ${ui("id", "et", 25920000)} AS BIGINT), " +
          "TIMESTAMP_NTZ'2024-01-01 00:00:00') AS TIMESTAMP_NTZ) AS ts",
        s"CAST(${ui("id", "eu", 1500)} AS BIGINT) AS user_id",
        s"${pick("id", "ey", Seq("click", "error", "purchase", "signup", "view"))} AS event_type",
        s"CAST(round(-50 * ln(1 - ${u("id", "ev")}), 2) AS DOUBLE) AS value",
        s"concat('{\"k\": ', ${ui("id", "ek", 100)}, '}') AS props")
      case "documents" =>
        val v = vocab.map(w => s"'$w'").mkString(", ")
        // every 50th document copies its predecessor's words and
        // replaces the last one: a near-duplicate pair
        val src = "IF(id % 50 = 49, id - 1, id)"
        val n = s"(8 + ${ui(src, "dn", 90)})"
        r.selectExpr("id AS doc_id",
          s"transform(sequence(1, $n), i -> IF(i = $n AND id % 50 = 49, " +
            s"element_at(array($v), ${ui("id", "dz", vocab.size)} + 1), " +
            s"element_at(array($v), CAST(pmod(xxhash64($src, i, 'dw'), ${vocab.size}) AS INT) + 1))) AS words",
          s"${pick("id", "dl", Seq("en", "en", "en", "de", "es", "fr", "zh"))} AS lang",
          "concat('src', id % 5) AS source")
          .selectExpr("doc_id", "array_join(words, ' ') AS text", "lang", "source")
          .selectExpr("doc_id", "text", "lang", "source", "CAST(length(text) AS BIGINT) AS n_chars")
      case "embeddings" => sel("id AS vec_id",
        "transform(sequence(1, 64), i -> CAST((pmod(xxhash64(id, i, 'ev'), 1000003) / 1000003.0 - 0.5) * 0.4 AS FLOAT)) AS embedding",
        s"${ui("id", "el", 10)} AS label")
    }
  }

  /** Writes every table under `dir` as `<name>.parquet`, one file each
    * like the engine's own fixtures. */
  def write(spark: SparkSession, dir: String): Unit =
    graft.Tables.names.foreach { name =>
      table(spark, name).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/$name.parquet")
    }
}
