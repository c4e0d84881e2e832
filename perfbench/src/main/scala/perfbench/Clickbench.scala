package perfbench

import scala.collection.mutable

/** The reference CI's traffic: the 43 ClickBench statements over
  * loopback HTTP in TSV, from one client, in sequential passes whose
  * order the seed shuffles. Results are at most 25 rows, so execution
  * and planning do nearly all the work. */
object Clickbench {
  /** Statements whose native TCP latency the traced run compares with
    * the library path: a point lookup, an aggregate, a partition-pruned
    * group-by and the widest projection. */
  private val NativeProbe = Seq("cb19_point_user", "cb07_adv_group",
    "cb36_pageviews_url", "cb23_star_scan")

  /** Statements the traced run takes apart layer by layer, a fixed
    * subset that keeps the traced run within its time: the full scan
    * (cb00), the point lookup whose fetch runs a job per partition
    * (cb19), every partition-pruned statement (cb36-cb42) and a spread
    * of aggregates, LIKE scans, sorts and the widest projection. */
  val Traced: Seq[String] = Seq("cb00_count", "cb02_sum_count_avg",
    "cb04_uniq_users", "cb07_adv_group", "cb08_region_uniq", "cb12_top_phrases",
    "cb15_top_users", "cb19_point_user", "cb20_url_like", "cb23_star_scan",
    "cb24_phrase_by_time", "cb28_referer_domain", "cb29_ninety_sums",
    "cb33_top_urls", "cb36_pageviews_url", "cb37_pageviews_title",
    "cb38_links_offset", "cb39_src_dst", "cb40_urlhash_date",
    "cb41_window_size", "cb42_minute_series")

  def run(e: Engine, a: Args, tr: Tracer, res: Result, out: Outcomes): Unit = {
    val spark = e.spark
    val texts = CbTexts.all
    // every answer through the library path first: the reference
    // digests, and the engine's warm-up
    val digests = Lib.digests(spark, texts.map { case (_, q) => (q, "TSV", false) })
    val ref = texts.map { case (n, q) => n -> digests((q, "TSV", false)) }.toMap
    Host.HeapPeak.reset()

    val client = new HttpClient(e.http.boundPort)
    val rnd = new scala.util.Random(a.seed)
    var counter = 0L

    /** One pass over every statement; returns each reply by name. */
    def pass(): Seq[(String, Reply)] = rnd.shuffle(texts).map { case (n, q) =>
      counter += 1
      val id = s"cb-$counter"
      n -> tr.span("statement", id)(tr.span("server.http", id)(client.query(q, "TSV", id)))
    }

    val layers = if (a.trace) Some(new Layers(e, tr)) else None
    layers.foreach(_.attach())
    val timed = mutable.ArrayBuffer.empty[(String, Reply)]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (timed.isEmpty || elapsed < a.seconds) timed ++= pass()
    val windowS = elapsed
    timed.foreach { case (n, r) => if (r.status == 200) res.add(n, r.totalNs / 1e6) }
    res.windowMetrics(res.all.length / windowS)

    // checks, outside the timed window
    timed.foreach { case (n, r) =>
      if (r.status != 200) out.fail(s"$n: status ${r.status} ${r.error}")
      else if (r.digest != ref(n)) out.fail(s"$n: answer differs from the library path")
      else out.ok()
    }

    layers.foreach { l =>
      val traced = texts.filter(t => Traced.contains(t._1))
      val wire = l.overhead(res, traced.map(_._2), pairs = 1)
      res.metrics("server.ttfb_ms") = Stats.median(timed.map(_._2.ttfbNs / 1e6).toSeq)
      val bds = traced.map { case (n, q) => n -> l.select(q, "TSV", s"layer-$n") }.toMap
      l.report(res, bds, traced.map { case (n, q) => n -> wire(q) }.toMap)
      val byName = texts.toMap
      l.nativeOverhead(res, NativeProbe.map(byName))
      l.writes(res)
      l.operators(res)
    }
  }
}
