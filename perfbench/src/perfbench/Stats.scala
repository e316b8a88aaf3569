package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The tail: the highest percentile that still has at least `beyond`
    * samples above it. With n sorted samples that is the (n - beyond)-th
    * smallest, at percentile 100·(n - beyond)/n. None when n <= beyond.
    */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] =
    if (xs.size <= beyond) None
    else {
      val s = xs.sorted
      val k = s.size - beyond
      Some(Tail(s(k - 1), 100.0 * k / s.size, s.size))
    }

  /** Largest over stages of max ÷ median task time (1 = perfectly even). */
  def skew(taskTimes: Seq[Seq[Double]]): Double =
    taskTimes.filter(_.size >= 2).map { ts =>
      val m = median(ts)
      if (m <= 0) 1.0 else ts.max / m
    }.foldLeft(1.0)(math.max)
}
