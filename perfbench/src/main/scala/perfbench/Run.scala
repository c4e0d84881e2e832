package perfbench

import scala.collection.mutable

/** What a workload measured: latencies by statement kind, metrics by
  * name, and details for the result file. */
final class Result {
  private val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val detail: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def add(kind: String, ms: Double): Unit = synchronized {
    lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
  }
  def byKind: Map[String, Seq[Double]] = synchronized(lat.map { case (k, v) => k -> v.toSeq }.toMap)
  def all: Seq[Double] = synchronized(lat.values.flatten.toSeq)

  /** The end-to-end metrics every workload reports, at the end of its
    * timed window, over the statements timed at a throughput of `qps`.
    * Latencies are gated per statement kind (the sum of the kinds'
    * medians, and their median), so how often each kind runs does not
    * decide what they measure; percentiles over all samples are
    * details. */
  def windowMetrics(qps: Double): Unit = {
    val xs = all
    require(xs.nonEmpty, "no statement completed")
    metrics("sweep_s") = Stats.sumOfMedians(byKind) / 1e3
    metrics("kind_median_ms") = Stats.medianOfMedians(byKind)
    metrics("qps") = qps
    metrics("peak_heap_mb") = Host.HeapPeak.mb
    detail("p50_ms") = Stats.median(xs)
    detail("p75_ms") = Stats.quantile(xs, 0.75)
    detail("samples") = xs.length
    detail("reportable_tail") = Stats.tail(xs).map { case (p, v) => Map("level" -> p, "ms" -> v) }
    detail("median_ms_by_kind") = byKind.map { case (k, v) => k -> Stats.median(v) }
    detail("samples_by_kind") = byKind.map { case (k, v) => k -> v.length }
  }
}

/** One measured run: boot, workload, checks, result file. */
object Run {
  def run(a: Args): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val work = Work(a.work)
    val prepared = Json.read(work.prepared)
    val engine = Boot.start(work)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val out = new Outcomes
    val res = new Result
    prepared.get("drift").collect { case xs: Seq[_] => xs }.getOrElse(Nil)
      .foreach(n => out.fail(s"ClickBench text differs from SparkEntry: $n"))
    val tracer = new Tracer(a.trace)
    val window = Host.start()
    a.workload match {
      case "clickbench" => Clickbench.run(engine, a, tracer, res, out)
      case "serving" => Serving.run(engine, a, tracer, res, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val host = window.close()
    res.metrics("setup_s") = setupS
    if (a.trace) {
      res.metrics ++= host.filter(_._1.startsWith("jvm."))
      val spans = tracer.all
      val self = Span.selfTimes(spans)
      Json.write(new java.io.File(a.result.getPath + ".spans.json"),
        spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "req" -> s.req, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id))))
    }
    res.detail("fixture_build_s") = prepared("fixture_build_s")
    res.detail("host") = host
    res.detail("failures") = out.failures.map { case (w, n) => Map("what" -> w, "count" -> n) }
    res.detail("fail_ratio") = out.failRatio
    res.detail("cores") = Boot.cores
    Json.write(a.result, Map(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> res.metrics,
      "detail" -> res.detail))
    engine.stop()
  }
}
