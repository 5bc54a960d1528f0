package graftbench

/** Order statistics and interval arithmetic shared by the workloads and
  * the trace report. Pure functions; HarnessSpec pins their rules.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the sample at 1-based rank ceil(p/100 · n). */
  def nearestRank(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  private def rank(n: Int, p: Int): Int =
    math.max(1, math.ceil(p.toDouble * n / 100.0 - 1e-9).toInt)

  /** The tail percentile a sample of `n` supports: the highest integer
    * percentile above 50 that leaves at least `beyond` samples ranked
    * strictly above it. None when even p51 leaves fewer — such a run
    * reports its median only.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 51 by -1).find(p => n - rank(n, p) >= beyond)

  /** (percentile, value) of the supported tail, if any. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] =
    tailPercentile(xs.length, beyond).map(p => p -> nearestRank(xs, p))

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    val sorted = intervals.filter(i => i._2 > i._1).sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Length of the union of `intervals` clipped to [start, end). */
  def coveredWithin(start: Double, end: Double,
      intervals: Seq[(Double, Double)]): Double =
    unionLength(intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) })
}
