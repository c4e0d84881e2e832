package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.internal.StaticSQLConf
import graft.dialect.{ChFunctions, Engine, HitsFixture}
import graft.formats.ResultFormatter

/** Spark's generated-class cache holds the engine's working set: a
  * repeated pass over the ClickBench statements compiles no class. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** system.events' CompileFunction: classes compiled since start. */
  private def compiled(): Long = Engine.execute(spark,
      "SELECT value FROM system.events WHERE event = 'CompileFunction'")
    .collect().head.getLong(0)

  test("a second ClickBench pass, in reverse order, compiles nothing") {
    HitsFixture.ensure(spark)
    // the same statements a client sends, rendered as the HTTP server
    // renders TSV; 24 of them compile well over Spark's default 100
    val cb = graft.queries.ClickBench.cbQs.take(24)
    def pass(qs: Seq[Q]): Unit = qs.foreach { q =>
      val out = new java.lang.StringBuilder
      ResultFormatter.write(q.run(spark, ""), "TSV", out)
      assert(out.length > 0, q.name)
    }
    val before = compiled()
    pass(cb)
    val first = compiled()
    assert(first > before, "the first pass compiles its classes")
    // reverse order: the statements run least recently come first, the
    // ones an LRU cache too small for the set has evicted
    pass(cb.reverse)
    assert(compiled() === first)
  }

  test("a session whose cap is above the engine's keeps its own value") {
    val cap = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES
    assert(spark.sessionState.conf.getConf(cap) === ChFunctions.CodegenCacheEntries)
    val s = spark.newSession()
    s.sessionState.conf.setConfString(cap.key, "5000")
    ChFunctions.register(s)
    assert(s.sessionState.conf.getConf(cap) === 5000)
    val low = spark.newSession()
    low.sessionState.conf.setConfString(cap.key, "10")
    ChFunctions.register(low)
    assert(low.sessionState.conf.getConf(cap) === ChFunctions.CodegenCacheEntries)
  }
}
