package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated name prefixes (local iteration)
    val keep: String => Boolean = args.lift(2) match {
      case Some(p) => val ps = p.split(","); n => ps.exists(n.startsWith)
      case None => _ => true
    }
    val spark = Explain.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // Every failed query gets a row here; written as <outDir>/_errors.json
    // so a crash is a visible FAIL in the compare, never silence (r9: a
    // fixture dtype change crashed 79 queries and the report stayed green
    // because absent output dirs produced absent rows).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // The driver reads the oracle via DuckDB .df(), which converts
        // DECIMAL results to float64; pandas reads our parquet DECIMALs
        // as Decimal objects — guaranteed hash mismatch (r02: 17 queries).
        // Cast top-level decimals to double here: decimal->binary64 is
        // correctly rounded on both engines, so the bits agree.
        // names are backticked: hits' Nested expansion yields literal
        // dots in column names (`ParsedParams.Key1`), which bare col()
        // would mis-read as struct paths
        import org.apache.spark.sql.types.DecimalType
        val cols = df.schema.fields.map { f =>
          f.dataType match {
            case _: DecimalType =>
              org.apache.spark.sql.functions.col(s"`${f.name}`").cast("double").as(f.name)
            case _ => org.apache.spark.sql.functions.col(s"`${f.name}`")
          }
        }
        df.select(cols.toIndexedSeq: _*).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Filter by the same keep() as the query loop: on a partial local run
    // the checker must not flag deliberately-skipped names as missing.
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
