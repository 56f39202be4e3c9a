package perfbench

/** Order statistics and interval arithmetic shared by the workloads and the
  * trace. Pure functions, covered by [[SelfTest]]. */
object Stats {

  /** Percentile `p` in [0, 100] by linear interpolation between closest
    * ranks (numpy's default), over an unsorted sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Geometric mean of positive values. */
  def geoMean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geometric mean needs positive values: $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Candidate tail percentiles, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The highest ladder percentile that leaves at least 10 samples above
    * it (n·(1 − p/100) ≥ 10); when the sample is too small for any of
    * them, the maximum (reported as percentile 100). Returns (p, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of an empty sample")
    TailLadder.find(p => xs.length * (1 - p / 100.0) >= 10.0 - 1e-9) match {
      case Some(p) => (p, percentile(xs, p))
      case None    => (100.0, xs.max)
    }
  }

  /** Merge possibly-overlapping [start, end) intervals into a disjoint,
    * sorted list. Empty and inverted intervals are dropped. */
  def union(iv: Seq[(Double, Double)]): List[(Double, Double)] = {
    val sorted = iv.filter { case (a, b) => b > a }.sortBy(_._1)
    sorted.foldLeft(List.empty[(Double, Double)]) {
      case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse
  }

  def length(iv: Seq[(Double, Double)]): Double = union(iv).map { case (a, b) => b - a }.sum

  /** Length of `[start, end)` not covered by any of `holes`. */
  def uncovered(start: Double, end: Double, holes: Seq[(Double, Double)]): Double = {
    val clipped = holes.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
    math.max(0.0, (end - start) - length(clipped))
  }

  /** Parts of `[start, end)` not covered by `holes`, as disjoint intervals. */
  def complement(start: Double, end: Double, holes: Seq[(Double, Double)]): List[(Double, Double)] = {
    val u = union(holes.map { case (a, b) => (math.max(a, start), math.min(b, end)) })
    val (gaps, cursor) = u.foldLeft((List.empty[(Double, Double)], start)) {
      case ((acc, cur), (a, b)) => (if (a > cur) (cur, a) :: acc else acc, math.max(cur, b))
    }
    (if (end > cursor) (cursor, end) :: gaps else gaps).reverse
  }

  /** Length of the overlap between a disjoint interval list and `other`. */
  def overlap(base: Seq[(Double, Double)], other: Seq[(Double, Double)]): Double = {
    val o = union(other)
    base.map { case (s, e) =>
      o.map { case (a, b) => math.max(0.0, math.min(b, e) - math.max(a, s)) }.sum
    }.sum
  }
}
