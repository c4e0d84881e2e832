package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Parquet fixture loading + shared expression helpers.
  *
  * Fixture layout per TESTDATA.md: one parquet file (or a Spark-written
  * directory of part files) per table under the scale-factor dir passed
  * to every query. Loading reads each schema from a parquet footer on
  * the driver and runs no Spark job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-(session, path) memo of the ANALYZED relation. Measured (r16,
    * DevAb phases): every `spark.read.parquet` call re-lists the path
    * and re-reads the parquet footer for schema inference — 50-70 ms of
    * the ~0.15 s per-query floor for every fixture-table query, x25
    * headline queries per bench pass. Reusing the immutable DataFrame
    * reuses the FileIndex + schema ONLY: each execution still plans and
    * reads the parquet data from disk (a noop write spawns a fresh
    * QueryExecution), so no result or intermediate is ever served
    * across runs — this is the plan-level reuse the optimization-round
    * rules allow, distinct from the banned result caching. Keyed by
    * session so a restarted session reloads; fixtures are immutable
    * within a session (tests that write their own parquet use fresh
    * temp dirs). The schema comes from [[footerSchema]]: inference
    * would run one Spark job per table. A session that ends (a
    * request-scoped or evicted per-user session of the servers) must
    * [[forget]] its entries, or the memo keeps it alive. */
  private val loadCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loadCache.computeIfAbsent((spark, s"$dir/$name.parquet"), { key =>
      val (s, path) = key
      footerSchema(s, path).fold(s.read.parquet(path))(s.read.schema(_).parquet(path))
    })

  /** Drop every memoized relation of `spark`. */
  def forget(spark: SparkSession): Unit =
    loadCache.keySet.removeIf(_._1 eq spark)

  private[graft] def memoSize: Int = loadCache.size

  /** Parquet footers [[footer]] has read in this JVM. */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong

  /** The footer of one parquet file, read on the driver with no job:
    * the one routine that opens a footer (schemas here, row groups in
    * [[graft.plans.OneTask]]). Spark's footer reader reads the footer
    * alone: about 0.3 ms for a 10.7 MB `lineitem` on a 4-core VM, where
    * opening a `ParquetFileReader` for it took 10–13 ms. */
  private[graft] def footer(file: org.apache.hadoop.fs.FileStatus,
                            conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    footerReads.incrementAndGet()
    org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
  }

  /** The schema `spark.read.parquet(path)` infers, read on the driver
    * with no job: the footer of the file, or of a directory's first part
    * file (Spark's inference also reads one footer when not merging
    * schemas). Spark's row-metadata JSON wins when present, else the
    * parquet schema is converted under the session's settings
    * (nanosAsLong, inferTimestampNTZ, …). None when there is no such
    * file; the caller's plain read then raises Spark's own error. */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file =
      if (!fs.exists(root)) None
      else Some(fs.getFileStatus(root)).filter(_.isFile).orElse(
        fs.listStatus(root).iterator.filter(_.isFile)
          .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
          .minByOption(_.getPath.getName))
    file.map { f =>
      ParquetFileFormat.readSchemaFromFooter(new org.apache.parquet.hadoop.Footer(f.getPath, footer(f, conf)),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** `events.ts` has shipped in two fixture encodings: parquet
    * TIMESTAMP(NANOS) — which Spark reads only as a nanosecond long
    * (spark.sql.legacy.parquet.nanosAsLong, set in all session
    * builders) — and plain timestamp[us], which loads as TimestampType
    * directly. Adapt to whichever the loaded schema shows: a long gets
    * the ns → us conversion (integer `div`; double division would lose
    * precision above 2^53), a timestamp passes through. The DuckDB
    * oracle's `CAST(ts AS TIMESTAMP)` is correct for both.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsTs(load(spark, dir, "events"))

  /** The dtype-adaptive ts normalization alone, for callers (streaming)
    * that build the events DataFrame themselves. timestamp[us] parquet
    * (isAdjustedToUTC=false) loads as TIMESTAMP_NTZ, which watermarks
    * reject — cast to TIMESTAMP; the session TZ is pinned UTC in every
    * builder, so the instant is unchanged and matches DuckDB's naive
    * read. */
  def eventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Exact-decimal cast. The fixtures store money/quantity as double;
    * both Spark and the DuckDB oracle cast to the same DECIMAL(p,s) so
    * sums are exact and order-insensitive (float sums are neither).
    */
  def dec(c: Column, p: Int = 12, s: Int = 2): Column = c.cast(DecimalType(p, s))

  /** Timestamp literal (session TZ is pinned UTC). */
  def ts(s: String): Column = lit(s).cast("timestamp")

  /** Exact scaled-long cents of a 2-decimal money double — the fast
    * aggregation twin of [[dec]]. For any double holding at most two
    * decimals (every money/quantity column in the fixtures; TPC-H money
    * is 2-decimal by definition), round(x*100) recovers the exact
    * integer cents: x is the nearest double to k/100, so |x*100 - k| <=
    * 100*ulp + 1 ulp << 0.5. Summing cents in a LONG replaces the
    * per-row double->BigDecimal cast (Double.toString inside
    * BigDecimal.valueOf!) and the 16-byte decimal sum buffer with
    * primitive codegen arithmetic — measured 2.3-2.7x on the Q1 shape.
    *
    * Overflow domain: a cents long caps at 9.2e16 money units, a strict
    * SUPERSET of decimal(18,2)'s 1e16 — and products scaled 1e-4/1e-6
    * cap at 9.2e14/9.2e12 vs their decimal(18,4)/(18,6) outputs'
    * 1e14/1e12. Wherever the declared decimal output can represent the
    * sum at all (including 100 TB: lineitem revenue sums sit ~40x under
    * the declared cap), the long sum cannot wrap. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Deterministic avg: exact decimal sum, then one double division,
    * rounded. Bit-identical in Spark and DuckDB for identical inputs.
    */
  def avgDec(c: Column, scale: Int = 6): Column =
    round(sum(dec(c)).cast("double") / count(lit(1)), scale)

  /** Spread a small/unsplittable input across the cluster before
    * CPU-heavy per-row work (guide §2.5 "input skew: one huge
    * unsplittable file — repartition immediately after the read").
    * The fixture's documents/embeddings tables are single parquet
    * files with one row group — ONE scan task — so every tokenize/
    * shingle/hash pipeline above them ran on one core (measured: the
    * shingle projection alone 7.5 s single-task vs ~0.3 s spread).
    *
    * The repartition alone is NOT enough: Catalyst pushes
    * deterministic filters (and prunes projections) straight through a
    * round-robin exchange, so a downstream filter on a derived column
    * — `size(shingles) > 0`, `size(__toks) >= 20` — re-evaluates the
    * whole tokenize pipeline BELOW the exchange, back on one core
    * (plan-verified). The eager localCheckpoint is the optimizer
    * barrier: everything above it computes on the redistributed
    * partitions, and the materialized input here is just the raw rows.
    *
    * Guarded: only fires when the scan has fewer partitions than the
    * cluster has slots, so a corpus that already arrives in thousands
    * of files never pays a gratuitous shuffle or materialization.
    *
    * SCAN INPUTS ONLY: the `df.rdd` partition probe finalizes the
    * adaptive plan, and for a plan that CONTAINS shuffles that means
    * executing every shuffle stage — after which the checkpoint is a
    * separate QueryExecution that recomputes them all (the whole
    * pipeline would run twice; r15 advice). A bare file scan has no
    * query stages, so the probe only plans. For shuffled streams use
    * [[fanOut]]. */
  def spread(df: DataFrame): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < slots)
      df.repartition(slots).localCheckpoint(true)
    else df
  }

  /** Unconditional fan-out + optimizer barrier for a known-small
    * SHUFFLED stream (e.g. a candidate-pair distinct whose exchange
    * AQE coalesced by shuffle bytes, blind to expensive downstream
    * per-row work — guide §2.5). No partition probe: probing a
    * shuffled plan's partition count executes its stages once and the
    * checkpoint then recomputes them (see [[spread]]); the repartition
    * of a tiny stream is cheap enough to pay unconditionally. */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(true)
}
