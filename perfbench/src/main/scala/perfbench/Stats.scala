package perfbench

/** The arithmetic the benchmark reports with: medians, interval coverage and
  * self time. Pure functions, so the suite pins them without Spark.
  */
object Stats {

  /** Median of a non-empty sample (mean of the two middle values when the
    * count is even).
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** Total length of the union of half-open intervals `[start, end)`. */
  def coverage(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Self time of a span: its duration minus the part of its interval that
    * its children cover (children clipped to the parent; overlapping
    * children counted once).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - coverage(clipped)
  }

  /** Self times by prefix subtraction. `prefixes` are (name, median wall,
    * base) of cumulative plans (scan, scan+route, ...) in chain order; the
    * self time of a prefix is its wall minus its base's wall (by default the
    * prefix before it; the first prefix is its own self time).
    */
  def prefixSelfTimes(prefixes: Seq[(String, Double, Option[String])]): Seq[(String, Double)] = {
    val wall = prefixes.map(p => p._1 -> p._2).toMap
    prefixes.zipWithIndex.map { case ((name, w, base), i) =>
      val b = base.orElse(if (i == 0) None else Some(prefixes(i - 1)._1))
      name -> (w - b.map(wall).getOrElse(0.0))
    }
  }

  def failedRatio(failed: Int, attempted: Int): Double =
    if (attempted == 0) 0.0 else failed.toDouble / attempted

  /** Largest task duration over the median one; 0 for no tasks. */
  def skew(durations: Seq[Double]): Double =
    if (durations.isEmpty) 0.0
    else {
      val m = median(durations)
      if (m <= 0) 0.0 else durations.max / m
    }
}
