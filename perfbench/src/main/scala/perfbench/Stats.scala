package perfbench

/** The benchmark's own arithmetic: quantiles, the reported tail, and
  * failure accounting. Pure functions, covered by StatsSpec. */
object Stats {

  /** Linear-interpolated quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Percentile levels a tail may be reported at, highest first. */
  val tailLevels: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest level that leaves at least 10 of `n` samples beyond
    * it; a tail with fewer samples beyond it is one or two outliers,
    * not a percentile. None when even the median has fewer than 10. */
  def tailLevel(n: Int): Option[Double] =
    tailLevels.find(p => n * (1 - p) >= 10 - 1e-9)

  /** (level, value) of the reportable tail of `xs`. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    tailLevel(xs.length).map(p => p -> quantile(xs, p))

  /** Sum over operation kinds of each kind's median latency. */
  def sumOfMedians(byKind: Map[String, Seq[Double]]): Double =
    byKind.values.filter(_.nonEmpty).map(median).sum

  /** Median over operation kinds of each kind's median latency: every
    * kind counts once, however often it ran. */
  def medianOfMedians(byKind: Map[String, Seq[Double]]): Double =
    median(byKind.values.filter(_.nonEmpty).map(median).toSeq)
}

/** Attempted and failed operation counts. A wrong answer, an error
  * status, an exception and a timeout each count as one failure. */
final class Outcomes {
  private var attempted0 = 0L
  private var failed0 = 0L
  private val reasons = scala.collection.mutable.LinkedHashMap.empty[String, Int]

  def ok(): Unit = synchronized { attempted0 += 1 }
  def fail(what: String): Unit = synchronized {
    attempted0 += 1; failed0 += 1
    val key = what.take(160)
    reasons(key) = reasons.getOrElse(key, 0) + 1
  }
  /** Marks an already counted operation as failed (a check made after
    * the timed region found its answer wrong). */
  def reject(what: String): Unit = synchronized {
    failed0 += 1
    val key = what.take(160)
    reasons(key) = reasons.getOrElse(key, 0) + 1
  }
  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(math.min(failed0, attempted0))
  def failRatio: Double = synchronized {
    if (attempted0 == 0) 0.0 else math.min(failed0, attempted0).toDouble / attempted0
  }
  def failures: Seq[(String, Int)] = synchronized(reasons.toSeq)
}
