package perfbench

/** The benchmark's own arithmetic: percentiles, interval unions and
  * span self time. Pure functions, tested in StatsSpec. */
object Stats {

  /** Median of a non-empty sample (mean of the two middle values for
    * an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 1) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p < 1, s"percentile must be in (0, 1), got $p")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  /** Samples strictly beyond the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p * n).toInt)

  /** `percentile(xs, p)`, but only when at least `tail` samples lie
    * beyond it; None when the sample cannot support that percentile. */
  def supportedPercentile(xs: Seq[Double], p: Double, tail: Int = 10): Option[Double] =
    if (xs.nonEmpty && beyond(xs.length, p) >= tail) Some(percentile(xs, p)) else None

  /** The highest percentile, in steps of 5 from p55 to p95, that has at
    * least `tail` samples beyond it, with its value. */
  def highestSupported(xs: Seq[Double], tail: Int = 10): Option[(Double, Double)] =
    (95 to 55 by -5).map(_ / 100.0).iterator
      .flatMap(p => supportedPercentile(xs, p, tail).map(p -> _)).nextOption()

  /** Merge half-open intervals [start, end) into disjoint sorted ones;
    * empty and inverted intervals are dropped. */
  def union(spans: Seq[(Long, Long)]): Seq[(Long, Long)] =
    spans.filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse

  /** Total length of the union of `spans`, clipped to [from, to). */
  def coveredWithin(spans: Seq[(Long, Long)], from: Long, to: Long): Long =
    union(spans.map { case (s, e) => (math.max(s, from), math.min(e, to)) })
      .map { case (s, e) => e - s }.sum

  /** A span's self time: its duration minus the part of it that its
    * children cover (children may overlap each other and may stick
    * out of the parent; only the covered part of the parent counts). */
  def selfTime(parent: (Long, Long), children: Seq[(Long, Long)]): Long =
    math.max(0L, parent._2 - parent._1) - coveredWithin(children, parent._1, parent._2)

  /** Driver gap: wall time of a window in which no stage was running. */
  def driverGap(window: (Long, Long), stages: Seq[(Long, Long)]): Long =
    selfTime(window, stages)
}
