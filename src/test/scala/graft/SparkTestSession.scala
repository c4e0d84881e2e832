package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (they run sequentially in
  * the forked test JVM). Registered before any query, as every server
  * entry path does, so the JVM's first compile sizes Spark's codegen
  * cache to the engine's capacity whichever suite runs first. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.dialect.ChFunctions.register(s)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
