package perfbench

/** The benchmark's own arithmetic: sample summaries and interval sums. */
object Stats {

  /** Median of a non-empty sample (mean of the two middle values when
    * the count is even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A latency tail: the highest percentile that still has at least
    * ten samples above it, its value, and the sample count.
    * With n samples the k-th smallest value (1-based) has n − k
    * samples above it, so the highest admissible rank is k = n − 10,
    * the (100·(n − 10)/n)-th percentile. Fewer than 11 samples have
    * no such percentile. */
  final case class Tail(percentile: Double, value: Double, n: Int)

  val TailMargin = 10

  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.length
    if (n <= TailMargin) None
    else {
      val k = n - TailMargin
      Some(Tail(100.0 * k / n, xs.sorted.apply(k - 1), n))
    }
  }

  /** Total length covered by the union of half-open intervals
    * [start, end); overlapping and nested intervals count once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Union length of `intervals` after clipping each to [lo, hi). */
  def coveredWithin(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long =
    unionLength(intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })

  /** The share of an operation's wall time that no Spark job covered:
    * time the driver spent planning, collecting, listing files or
    * waiting between jobs. */
  def driverGapFrac(opStart: Long, opEnd: Long, jobs: Seq[(Long, Long)]): Double = {
    val wall = opEnd - opStart
    if (wall <= 0) 0.0 else (wall - coveredWithin(opStart, opEnd, jobs)).toDouble / wall
  }
}
