package agentbench

/** Order statistics of a latency sample. */
object Dist {
  /** Samples that must lie beyond a reported tail. */
  val TailBeyond = 10

  /** A tail reading: the value, the percentile it sits at, and the sample
    * count it came from.
    */
  final case class Tail(value: Double, percentile: Double, n: Int)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The highest percentile with at least [[TailBeyond]] samples beyond it:
    * the (TailBeyond+1)-th largest value, at percentile 100·(n−TailBeyond)/n.
    * None when the sample is too small for that order statistic to lie
    * above every value the median is taken from.
    */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.size
    val idx = n - TailBeyond - 1
    if (idx <= n / 2) None
    else Some(Tail(xs.sorted.apply(idx), 100.0 * (n - TailBeyond) / n, n))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}
