package graftbench

/** Latency summaries and interval arithmetic. */
object Stats {

  /** Samples a percentile needs beyond it before it is reported. */
  val TailSamples = 10

  /** Nearest-rank percentile (`p` in (0, 100]) of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s((math.ceil(p / 100.0 * s.length).toInt - 1).max(0).min(s.length - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Samples strictly above the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  /** Whether `n` samples support percentile `p`: at least
    * [[TailSamples]] of them lie beyond it. */
  def supports(n: Int, p: Double): Boolean = beyond(n, p) >= TailSamples

  /** The highest of `ladder` that `n` samples support, if any. */
  def highestSupported(n: Int, ladder: Seq[Double] = Seq(99, 95, 90, 75, 50)): Option[Double] =
    ladder.sorted.reverse.find(supports(n, _))

  /** Total length covered by a set of [start, end] intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Length of `[lo, hi]` covered by none of `intervals`: an op's driver
    * gap (its wall time outside every Spark job it ran), or a span's self
    * time (outside its children). */
  def uncovered(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double =
    (hi - lo) - unionLength(intervals.map { case (s, e) => (s max lo, e min hi) })
}
