package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Unit semantics of the r16 codegen expressions (SortedLongIntersect,
  * VecDot, DecimalMod64) and the UInt64 distinct-narrowing rule —
  * each asserted against the interpreted spelling it replaced. */
class CodegenFnsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def reg(): Unit = graft.dialect.ChFunctions.register(spark)

  test("sortedLongIntersect equals size(array_intersect) on sorted distinct arrays") {
    reg()
    val cases = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 9L, 11L)), // partial overlap
      (Seq(1L, 2L), Seq(3L, 4L)),                  // disjoint
      (Seq[Long](), Seq(1L, 2L)),                  // empty side
      (Seq(-5L, -1L, 0L, 7L), Seq(-5L, -1L, 0L, 7L)), // identical, negatives
      (Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue)))
    val df = cases.toDF("a", "b")
      .selectExpr("sortedLongIntersect(a, b) AS fused",
        "size(array_intersect(a, b)) AS reference")
    df.collect().foreach(r => assert(r.getInt(0) === r.getInt(1), r))
  }

  test("vecDot equals the aggregate(zip_with) fold bit-for-bit, nulls included") {
    reg()
    val cases = Seq(
      (Seq(1.1, -2.2, 3.3), Seq(0.5, 4.0, -1.25)),
      (Seq(0.1, 0.2, 0.3, 0.4, 0.5), Seq(0.9, 0.8, 0.7, 0.6, 0.5)),
      (Seq[Double](), Seq[Double]()),
      (Seq(1e300, -1e300, 3.0), Seq(1.0, 1.0, 1.0))) // order-sensitive sum
    val df = cases.toDF("a", "b").selectExpr(
      "vecDot(a, b) AS fused",
      """aggregate(zip_with(a, b, (x, y) -> x * y),
         cast(0 AS DOUBLE), (acc, x) -> acc + x) AS reference""")
    df.collect().foreach { r =>
      // bit-identical, not approximately equal (oracle parity contract)
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r)
    }
    // length mismatch and null elements -> null, like zip_with + fold
    val edge = Seq((Seq(1.0, 2.0), Seq(1.0)),
      (Seq(1.0, 2.0), Seq(1.0, Double.NaN))).toDF("a", "b")
      .selectExpr("vecDot(a, b) AS fused",
        """aggregate(zip_with(a, b, (x, y) -> x * y),
           cast(0 AS DOUBLE), (acc, x) -> acc + x) AS reference""")
    edge.collect().foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), r)
      if (!r.isNullAt(0))
        assert(r.getDouble(0).isNaN === r.getDouble(1).isNaN, r)
    }
    // ARRAY<FLOAT> inputs: products on the widened doubles, summed in
    // double; null elements and length mismatches -> null
    val floats = Seq(
      (Seq(1.1f, -2.2f, 3.3f), Seq(0.5f, 4.0f, -1.25f)),
      (Seq(0.1f, 0.2f, 0.3f, 0.4f, 0.5f), Seq(0.9f, 0.8f, 0.7f, 0.6f, 0.5f)),
      (Seq[Float](), Seq[Float]()),
      (Seq(1.0f, 2.0f), Seq(1.0f))).toDF("a", "b")
      .union(spark.sql("SELECT array(CAST(1 AS FLOAT), NULL) AS a, " +
        "array(CAST(2 AS FLOAT), CAST(3 AS FLOAT)) AS b"))
      .selectExpr("vecDot(a, b) AS fused",
        """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
           cast(0 AS DOUBLE), (acc, x) -> acc + x) AS reference""")
    val fr = floats.collect()
    assert(fr.count(_.isNullAt(0)) === 2, fr.mkString(","))
    fr.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), r)
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r)
    }
    // mixed element types are refused at analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq(1.0), Seq(1.0f))).toDF("a", "b").selectExpr("vecDot(a, b)").collect()
    }
  }

  test("decimalMod64 is injective on the UInt64 domain, incl. >= 2^63") {
    reg()
    // values straddling the long boundary: 2^63 - 1, 2^63, 2^64 - 1
    val vals = Seq("0", "1", "9223372036854775807", "9223372036854775808",
      "18446744073709551615", "100123", "4294967296")
    val df = vals.toDF("s")
      .selectExpr("CAST(s AS DECIMAL(20,0)) AS d")
      .selectExpr("decimalMod64(d) AS l", "d")
    val rows = df.collect().map(r => r.getLong(0) -> r.getDecimal(1).toString)
    assert(rows.map(_._1).distinct.length === vals.length,
      s"mod-2^64 mapping must stay injective: ${rows.mkString(",")}")
    // spot values: 2^63 wraps to Long.MinValue, 2^64-1 to -1
    val byDec = rows.map(_.swap).toMap
    assert(byDec("9223372036854775808") === Long.MinValue)
    assert(byDec("18446744073709551615") === -1L)
    assert(byDec("100123") === 100123L)
  }

  test("UInt64DistinctNarrow rewrites COUNT(DISTINCT decimal(20,0)) and preserves the count") {
    reg()
    val vals = Seq("1", "1", "9223372036854775808", "9223372036854775808",
      "18446744073709551615", "7")
    val df = vals.toDF("s").selectExpr("CAST(s AS DECIMAL(20,0)) AS u")
    df.createOrReplaceTempView("narrow_t")
    val q = spark.sql("SELECT COUNT(DISTINCT u) AS c FROM narrow_t")
    assert(q.queryExecution.optimizedPlan.toString.contains("decimalMod64"),
      q.queryExecution.optimizedPlan.toString)
    assert(q.collect().head.getLong(0) === 4L)
    assert(q.schema("c").dataType.typeName === "long")
  }

  test("UInt64DistinctNarrow narrows only keys known to be UInt64: out-of-domain sets count exactly") {
    reg()
    def narrowed(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.optimizedPlan.toString.contains("decimalMod64")
    // -1 and 2^64-1 are one value mod 2^64; narrowed, they would count as 1
    val computed = spark.sql("SELECT COUNT(DISTINCT CAST(s AS DECIMAL(20,0))) AS c " +
      "FROM VALUES ('-1'), ('18446744073709551615') AS t(s)")
    assert(!narrowed(computed) && computed.collect().head.getLong(0) === 2L)
    Seq("-1", "18446744073709551615").toDF("s")
      .selectExpr("CAST(s AS DECIMAL(20,0)) AS u").createOrReplaceTempView("narrow_neg")
    val local = spark.sql("SELECT COUNT(DISTINCT u) AS c FROM narrow_neg")
    assert(!narrowed(local) && local.collect().head.getLong(0) === 2L)
    // a Union merges other rows under the first branch's column
    Seq("18446744073709551615").toDF("s")
      .selectExpr("CAST(s AS DECIMAL(20,0)) AS u").createOrReplaceTempView("narrow_pos")
    val union = spark.sql("SELECT COUNT(DISTINCT u) AS c FROM " +
      "(SELECT u FROM narrow_pos UNION ALL SELECT CAST(-1 AS DECIMAL(20,0)))")
    assert(!narrowed(union) && union.collect().head.getLong(0) === 2L)
    // a graft table column declared UInt64 is narrowed
    import graft.dialect.Engine
    Engine.execute(spark, "CREATE DATABASE IF NOT EXISTS graft_narrow")
    Engine.execute(spark, "DROP TABLE IF EXISTS graft_narrow.t")
    Engine.execute(spark, "CREATE TABLE graft_narrow.t (u UInt64) ENGINE=MergeTree ORDER BY u")
    Engine.execute(spark, "INSERT INTO graft_narrow.t VALUES (1), (1), (18446744073709551615)")
    val table = Engine.execute(spark, "SELECT COUNT(DISTINCT u) AS c FROM graft_narrow.t")
    assert(narrowed(table) && table.collect().head.getLong(0) === 2L)
    Engine.execute(spark, "DROP TABLE graft_narrow.t")
  }
}
