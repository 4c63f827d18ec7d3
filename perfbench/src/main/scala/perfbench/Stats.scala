package perfbench

/** The small arithmetic the metrics rest on, kept apart so it is tested. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** warm_s: Σ over keys of the median of that key's warm-pass times.
    * Keys with no warm sample (they failed) contribute nothing. */
  def warmSum(perKey: Map[String, Seq[Double]]): Double =
    perKey.valuesIterator.filter(_.nonEmpty).map(median).sum

  /** max / median of one stage's task times; 1.0 for an even stage. */
  def skew(taskTimes: Seq[Double]): Double = {
    val m = if (taskTimes.isEmpty) 0.0 else median(taskTimes)
    if (m <= 0) 1.0 else taskTimes.max / m
  }
}
