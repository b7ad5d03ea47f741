package perfbench

/** Order statistics over one run's samples. Percentiles interpolate
  * linearly between closest ranks (numpy's default), so a median of an
  * even sample is the mean of the middle two.
  */
object Stats {

  private val born = System.nanoTime()

  /** Progress note on stderr: what finished, seconds since start. */
  def note(what: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.1fs] $what")

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Highest of the usual reporting percentiles that still has at least
    * ten samples beyond it (90 needs 100 samples, 80 needs 50, ...).
    */
  def tailPercentile(n: Int): Int =
    Seq(99, 95, 90, 80, 75, 50).find(p => n * (100 - p) / 100.0 >= 10).getOrElse(50)

  /** Total length of the union of [start, end) intervals — time covered
    * by at least one of them (overlapping Spark jobs count once).
    */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
