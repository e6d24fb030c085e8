package perfbench

/** Summary statistics the benchmark reports. Pure functions, unit-tested. */
object Stats {

  /** Percentiles a tail figure may be reported at, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = nearestRank(s.size, p)
    s(math.min(s.size, rank) - 1)
  }

  /** 1-based rank of the nearest-rank p-th percentile of n samples; the
    * epsilon keeps 99.9% of 10000 at rank 9990, not 9991. */
  def nearestRank(n: Int, p: Double): Int = math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt)

  /** Samples strictly beyond the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int = n - nearestRank(n, p)

  /** The tail rule: the highest ladder percentile with at least 10 samples
    * beyond it. Below 20 samples no percentile qualifies and 50 stands in. */
  def tailPercentile(n: Int): Double =
    Ladder.find(p => beyond(n, p) >= 10).getOrElse(50.0)

  /** The tail figure's percentile when the tail rule reaches no higher than
    * the median, i.e. below 40 samples. It has fewer than 10 samples beyond
    * it; the caller prints the percentile and the sample count beside it. */
  val FallbackPct = 90.0

  final case class Tail(value: Double, pct: Double, n: Int)

  /** The tail figure: the nearest-rank percentile the tail rule picks, or
    * [[FallbackPct]] where that rule would only give the median. */
  def tail(xs: Seq[Double]): Tail = {
    val p = tailPercentile(xs.size)
    val q = if (p > 50.0) p else FallbackPct
    Tail(percentile(xs, q), q, xs.size)
  }

  /** Mean of the samples at or above the nearest-rank p-th percentile. A
    * single order statistic jumps between the latencies of two operations
    * when a sample set mixes a few distinct operations; this mean moves
    * only as those latencies do. */
  def tailMean(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val top = s.drop(math.min(s.size, nearestRank(s.size, p)) - 1)
    top.sum / top.size
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of `[s, e)` covered by the union of `iv`, each clipped to it. */
  def coveredWithin(s: Long, e: Long, iv: Seq[(Long, Long)]): Long =
    unionLength(iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) })

  /** Open-loop lateness: how long after its due time each item was
    * actually issued (never negative). */
  def lateness(due: Seq[Long], issued: Seq[Long]): Seq[Long] =
    due.zip(issued).map { case (d, i) => math.max(0L, i - d) }

  /** Open-loop latency of each item, measured from when it was DUE, not
    * from when it was issued: a stalled generator's delay counts. */
  def latencyFromDue(due: Seq[Long], done: Seq[Long]): Seq[Long] =
    due.zip(done).map { case (d, c) => c - d }
}
