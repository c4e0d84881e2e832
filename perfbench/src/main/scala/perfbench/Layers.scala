package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import graft.dialect.Transpiler
import graft.formats.{ArrowCodec, NativeCodec, ResultFormatter}

/** One statement taken apart layer by layer through the library path:
  * each step runs on its own and is timed, with the Spark counters of
  * the steps that run jobs. */
final case class Breakdown(
    transpileMs: Double, executeMs: Double, planMs: Double,
    noopS: Double, noop: ExecCounters,
    libS: Double, lib: ExecCounters, usefulJobs: Long,
    encodeBytes: Map[String, Long], encodeS: Map[String, Double])

/** The per-layer measurements of a traced run. Every traced run, of
  * either workload, reports every per-layer metric: the workload's own
  * statements give the read path, and the same probes of the write
  * path and of the operators run in both. */
final class Layers(e: Engine, tr: Tracer) {
  val counters = new JobCounters
  private val spark = e.spark
  private val sc = spark.sparkContext
  def attach(): Unit = sc.addSparkListener(counters)

  private def timed[T](name: String, req: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = tr.span(name, req)(f)
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def countersOf(queryId: String): ExecCounters = counters.of(sc, s"graft-qid-$queryId")

  private def encode(schema: org.apache.spark.sql.types.StructType,
                     rows: Array[org.apache.spark.sql.Row], format: String): Long = {
    val d = new Digester
    format match {
      case "Native" => NativeCodec.writeBlocks(d.stream, schema, rows.iterator, Lib.NativeBlockRows)
      case "Arrow" => ArrowCodec.write(d.stream, schema, rows.iterator, file = true)
      case text =>
        val w = d.writer
        ResultFormatter.writeRows(schema, rows.iterator, text, w)
        w.flush()
    }
    d.bytes
  }

  def select(sql: String, format: String, tag: String): Breakdown = tr.span("layers.statement", tag) {
    val (_, transpileS) = timed("dialect.transpile", tag)(Transpiler.transpile(sql))
    val (df, executeS) = timed("dialect.execute", tag)(Lib.execute(spark, sql, s"$tag-exec"))
    val (_, planS) = timed("plans.plan", tag)(df.queryExecution.executedPlan)
    // one untimed run first, so `noop` and the formatted path below
    // both meet warm caches and their difference is the fetch
    Lib.execute(spark, sql, s"$tag-warm").write.format("noop").mode("overwrite").save()
    val (_, noopS) = timed("exec.noop", tag) {
      Lib.execute(spark, sql, s"$tag-noop").write.format("noop").mode("overwrite").save()
    }
    val (_, libS) = timed("fetch.library", tag) {
      Lib.render(Lib.execute(spark, sql, s"$tag-fetch"), format, new Digester().stream)
    }
    // the rows once more, with the partition each came from: how many
    // of the fetch jobs (one per result partition) had rows to return
    val tagged = Lib.execute(spark, sql, s"$tag-rows").rdd
      .mapPartitionsWithIndex((i, it) => it.map(r => (i, r))).collect()
    val rows = tagged.map(_._2)
    val enc = Layers.encodeFormats.map { f =>
      val (n, s) = timed(s"formats.encode.${f.toLowerCase}", tag)(encode(df.schema, rows, f))
      (f, n, s)
    }
    Breakdown(transpileS * 1e3, executeS * 1e3, planS * 1e3,
      noopS, countersOf(s"$tag-noop"), libS, countersOf(s"$tag-fetch"),
      tagged.map(_._1).distinct.length.toLong,
      enc.map(x => x._1 -> x._2).toMap, enc.map(x => x._1 -> x._3).toMap)
  }

  /** Read-path metrics from statement breakdowns; `wireMs` is each
    * statement's uncontended latency over HTTP (from [[overhead]]). */
  def report(res: Result, bds: Map[String, Breakdown], wireMs: Map[String, Double]): Unit = {
    val m = res.metrics
    val n = bds.size.toDouble
    def mean(f: Breakdown => Double): Double = bds.values.map(f).sum / n
    m("dialect.transpile_ms") = mean(_.transpileMs)
    m("dialect.execute_ms") = mean(_.executeMs)
    m("plans.plan_ms") = mean(_.planMs)
    m("exec.noop_s") = mean(_.noopS)
    m("exec.jobs") = mean(_.noop.jobs.toDouble)
    m("exec.stages") = mean(_.noop.stages.toDouble)
    m("exec.tasks") = mean(_.noop.tasks.toDouble)
    m("exec.task_run_s") = mean(_.noop.taskRunMs / 1e3)
    m("exec.task_cpu_s") = mean(_.noop.taskCpuNs / 1e9)
    m("exec.input_rows") = mean(_.noop.inputRows.toDouble)
    m("exec.input_bytes") = mean(_.noop.inputBytes.toDouble)
    m("exec.shuffle_write_bytes") = mean(_.noop.shuffleWriteBytes.toDouble)
    m("exec.spill_bytes") = mean(_.noop.spillBytes.toDouble)
    m("exec.peak_exec_mem_bytes") = mean(_.noop.peakExecMem.toDouble)
    m("fetch.s") = mean(b => b.libS - b.noopS)
    m("fetch.jobs") = mean(_.lib.jobs.toDouble)
    val libJobs = bds.values.map(_.lib.jobs).sum
    m("fetch.useful_job_ratio") = bds.values.map(_.usefulJobs).sum.toDouble / math.max(1L, libJobs)
    Layers.encodeFormats.foreach { f =>
      val bytes = bds.values.map(_.encodeBytes(f)).sum
      val s = bds.values.map(_.encodeS(f)).sum
      m(s"formats.encode_MBps.${f.toLowerCase}") = bytes / 1e6 / s
    }
    val over = bds.collect { case (k, b) if wireMs.contains(k) => wireMs(k) - b.libS * 1e3 }
    m("server.http_overhead_ms") = over.sum / over.size
    res.detail("statements") = bds.map { case (k, b) => k -> Map(
      "transpile_ms" -> b.transpileMs, "execute_ms" -> b.executeMs, "plan_ms" -> b.planMs,
      "noop_s" -> b.noopS, "library_s" -> b.libS, "wire_ms" -> wireMs.get(k),
      "noop_jobs" -> b.noop.jobs, "fetch_jobs" -> b.lib.jobs, "useful_jobs" -> b.usefulJobs,
      "stages" -> b.noop.stages, "tasks" -> b.noop.tasks,
      "input_rows" -> b.noop.inputRows, "input_bytes" -> b.noop.inputBytes,
      "shuffle_write_bytes" -> b.noop.shuffleWriteBytes, "spill_bytes" -> b.noop.spillBytes,
      "peak_exec_mem_bytes" -> b.noop.peakExecMem) }
  }

  /** Native TCP latency of each statement minus its library rendering in
    * the native server's block layout. */
  def nativeOverhead(res: Result, sqls: Seq[String]): Unit = {
    val client = new NativeClient(e.native.boundPort)
    try {
      val over = sqls.zipWithIndex.map { case (sql, i) =>
        val wire = (1 to 3).map { k =>
          val id = s"layer-tcp-$i-$k"
          val r = tr.span("server.tcp", id)(client.query(sql, id))
          require(r.status == 200, s"native probe failed: ${r.error}")
          r.totalNs / 1e6
        }
        val (_, libS) = timed("fetch.library.tcp", s"layer-tcp-$i") {
          Lib.render(Lib.execute(spark, sql, s"layer-tcp-$i-lib"), "Native",
            new Digester().stream, tcp = true)
        }
        Stats.median(wire) - libS * 1e3
      }
      res.metrics("server.native_overhead_ms") = over.sum / over.size
    } finally client.close()
  }

  /** The write path on a scratch MergeTree table: 20-row INSERT …
    * VALUES batches through the engine, the files and bytes they add,
    * and one INSERT … FORMAT TSV import. */
  def writes(res: Result): Unit = {
    val db = "perfbench_layers"
    val ex = (sql: String, id: String) => Lib.execute(spark, sql, id)
    ex(s"CREATE DATABASE IF NOT EXISTS $db", "layer-ddl-0")
    ex(s"DROP TABLE IF EXISTS $db.ins SYNC", "layer-ddl-1")
    ex(s"CREATE TABLE $db.ins (k UInt64, c UInt32, v String) ENGINE = MergeTree ORDER BY k", "layer-ddl-2")
    ex(s"DROP TABLE IF EXISTS $db.imp SYNC", "layer-ddl-3")
    ex(s"CREATE TABLE $db.imp (${Serving.LineitemCols}) ENGINE = MergeTree ORDER BY l_orderkey", "layer-ddl-4")
    val dir = new java.io.File(e.warehouse, s"$db.db/ins")
    val (files0, bytes0) = Layers.dirSize(dir)
    var userBytes = 0L
    val ms = (1 to 5).map { i =>
      val sql = s"INSERT INTO $db.ins VALUES " +
        (1 to 20).map(j => s"(${i * 100 + j}, $j, 'v${i * j}')").mkString(", ")
      userBytes += sql.getBytes(UTF_8).length
      val (_, s) = timed("dialect.insert", s"layer-insert-$i")(ex(sql, s"layer-insert-$i"))
      s * 1e3
    }
    val (files1, bytes1) = Layers.dirSize(dir)
    res.metrics("dialect.insert_ms") = Stats.median(ms)
    res.metrics("dialect.files_written") = (files1 - files0) / 5.0
    res.metrics("dialect.bytes_written_per_user_byte") = (bytes1 - bytes0).toDouble / userBytes
    val payload = new String(Lib.bytes(spark, Serving.ImportSource, "TSV", "layer-import-src"), UTF_8)
    val (_, importS) = timed("formats.import.tsv", "layer-import") {
      ex(s"INSERT INTO $db.imp FORMAT TSV\n$payload", "layer-import")
    }
    res.metrics("formats.import_s.tsv") = importS
  }

  /** Each training-data operator once, written to `noop`, under a job
    * group of the engine's shape so its counters are attributed. */
  def operators(res: Result): Unit = Layers.operators.foreach { op =>
    val id = s"layer-$op"
    sc.setJobGroup(s"graft-qid-$id", op, interruptOnCancel = true)
    val (_, s) = try timed("operators.run", id) {
      graft.SparkEntry.queries(op)(spark, e.dataDir).write.format("noop").mode("overwrite").save()
    } finally sc.clearJobGroup()
    res.metrics(Layers.opMetric(op)) = s
    val c = countersOf(id)
    res.detail(s"operator.$op") = Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "task_run_s" -> c.taskRunMs / 1e3, "task_cpu_s" -> c.taskCpuNs / 1e9,
      "input_rows" -> c.inputRows, "shuffle_write_bytes" -> c.shuffleWriteBytes)
  }

  /** Tracing overhead per statement: each statement over HTTP traced
    * (spans and the Spark listener) and untraced (neither) back to back,
    * `pairs` times, the order alternating (a repeat of a statement runs
    * faster than its first call); the mean difference. Returns each
    * statement's median latency over both legs. */
  def overhead(res: Result, sqls: Seq[String], pairs: Int): Map[String, Double] = {
    val client = new HttpClient(e.http.boundPort)
    def call(sql: String, id: String): Double = {
      val r = tr.span("statement", id)(tr.span("server.http", id)(client.query(sql, "TSV", id)))
      require(r.status == 200, s"overhead probe failed: ${r.error}")
      r.totalNs / 1e6
    }
    def timedAs(on: Boolean, sql: String, id: String): Double = {
      tr.enabled = on
      if (!on) sc.removeSparkListener(counters)
      try call(sql, id)
      finally {
        tr.enabled = true
        if (!on) sc.addSparkListener(counters)
      }
    }
    val legs = for ((sql, i) <- sqls.zipWithIndex; k <- 1 to pairs) yield {
      val onFirst = (i + k) % 2 == 0
      val first = timedAs(onFirst, sql, s"layer-pair-$i-$k-a")
      val second = timedAs(!onFirst, sql, s"layer-pair-$i-$k-b")
      (sql, if (onFirst) (first, second) else (second, first))
    }
    res.metrics("trace.overhead_ms") = legs.map { case (_, (on, off)) => on - off }.sum / legs.size
    legs.groupBy(_._1).map { case (sql, ls) =>
      sql -> Stats.median(ls.flatMap { case (_, (on, off)) => Seq(on, off) })
    }
  }
}

object Layers {
  /** Formats the encoders are measured in, with the engine's names. */
  val encodeFormats: Seq[String] = Seq("TSV", "JSONEachRow", "Native", "Arrow")

  /** Training-data operators of the pipeline layer, by engine name. */
  val operators: Seq[String] = Seq("l2_minhash_neardup", "l5_cosine_topk",
    "l12_cosine_neardup", "l15_cosine_neardup_lsh", "l18_pack_sequences",
    "l21_decontaminate", "l23_tfidf_topterms", "l30_ann_pq",
    "l34_dsir_resample", "l35_exact_substring_dedup")

  def opMetric(op: String): String = s"operators.${op.takeWhile(_ != '_')}_s"

  /** (files, bytes) under a directory. */
  def dirSize(d: java.io.File): (Long, Long) =
    Option(d.listFiles).map(_.toSeq).getOrElse(Nil)
      .map(f => if (f.isDirectory) dirSize(f) else (1L, f.length))
      .foldLeft((0L, 0L)) { case ((a, b), (c, x)) => (a + c, b + x) }
}
