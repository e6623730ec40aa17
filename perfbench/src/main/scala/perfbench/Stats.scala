package perfbench

/** Order statistics and fits used by every workload. Percentiles use
  * linear interpolation between closest ranks (the `inclusive` method of
  * Python's `statistics.quantiles`), so a value read here matches the
  * same computation over the printed samples.
  */
object Stats {

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0.0 && p <= 1.0, s"percentile $p outside [0, 1]")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The tail rule: a percentile is reported only when at least
    * `minBeyond` samples lie beyond it, so one slow sample cannot be the
    * whole tail. Returns the percentile value, or None when the sample is
    * too small to support it.
    */
  def tail(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.isEmpty) None
    else {
      val v = percentile(xs, p)
      if (xs.count(_ > v) >= minBeyond) Some(v) else None
    }

  /** Least-squares slope of y over x. */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
    require(xs.size == ys.size && xs.size >= 2, "slope needs two or more points")
    val mx = xs.sum / xs.size
    val my = ys.sum / ys.size
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    if (sxx == 0.0) 0.0
    else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }

  /** Total length of the union of closed intervals `[start, end]`
    * clipped to `[lo, hi]`. Overlapping jobs (adaptive execution runs
    * stages of several jobs at once) count once, so wall minus this
    * union can never go negative the way wall minus the sum of job
    * times does.
    */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
