package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev utility: run/explain registered queries.
  *
  * usage: runMain graft.Explain <sfDir> [queryName ...]
  *        runMain graft.Explain <sfDir> --plans <outFile>
  *   - no names: list queries and smoke-run each (row count)
  *   - names:    print formatted physical plan + first rows
  *   - --plans:  write PLANS.md-style formatted plans of the headline
  *               (bench) queries plus the structurally distinct extras
  */
object Explain {
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "128k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.sql.codegen.maxFields", "200")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private lazy val byName = SparkEntry.all.map(q => q.name -> q).toMap

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    args.drop(1).toSeq match {
      case Seq("--plans", outFile) => writePlans(sfDir, outFile)
      case names => run(sfDir, names)
    }
  }

  private def run(sfDir: String, names: Seq[String]): Unit = {
    val spark = session()
    val targets = if (names.nonEmpty) names else SparkEntry.all.map(_.name)
    targets.foreach { n =>
      byName.get(n) match {
        case None => println(s"[explain] unknown query: $n")
        case Some(q) =>
          try {
            val df = q.run(spark, sfDir)
            if (names.nonEmpty) {
              df.explain("formatted")
              df.show(20, truncate = false)
            }
            val t0 = System.nanoTime()
            val rows = df.count()
            println(f"[explain] $n rows=$rows (${(System.nanoTime() - t0) / 1e9}%.2fs)")
          } catch {
            case e: Throwable =>
              println(s"[explain] $n FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }

  /** The PLANS.md artifact backing the scale claims (pushed filters,
    * pruned read schemas, broadcast choices, exchange counts). The
    * session is pinned to 8 cores so the committed partition counts do
    * not depend on the machine that regenerates it. */
  private def writePlans(sfDir: String, outFile: String): Unit = {
    val spark = session("8")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
    sb.append(s"Generated by `runMain graft.Explain $sfDir --plans <outFile>` (AQE on; plans\n")
    sb.append("are the pre-execution adaptive plans).\n")
    // headliners + the ClickBench sweep's structurally distinct shapes
    // (full-scan agg, distinct, star scan, 90-sum, heavy two-key group,
    // partition-pruned July filter, minute series) + the blocked knn
    val extra = Seq("cb04_uniq_users", "cb23_star_scan", "cb29_ninety_sums",
      "cb32_watch_ip_all", "cb36_pageviews_url", "cb42_minute_series",
      "l17_cosine_topk_blocked", "l27_paragraph_dedup", "l28_shuffle_shards",
      "l30_ann_pq", "s12_dictionary",
      // round 12: skip-index file pruning (scan lists a pruned file
      // set), ngram-bloom LIKE pruning, projection avg/uniq merge read
      "s17_skip_index", "s17b_ngrambf_like", "s16b_projection_avg_uniq")
    (SparkEntry.benchNames ++ extra).foreach { name =>
      val df = byName(name).run(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    println(s"[explain] wrote $outFile")
    spark.stop()
  }
}
