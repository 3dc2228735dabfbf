package perfbench

/** The benchmark's arithmetic: percentiles, the tail rule and self time. */
object Stats {

  /** A failed operation counts as slower than every completed one. */
  val Failed: Double = Double.PositiveInfinity

  /** 1-based nearest rank of the q-th percentile among n samples (the
    * epsilon keeps 0.9 * 100 at rank 90 despite binary rounding). */
  def rank(n: Int, q: Double): Int = math.max(1, math.ceil(q * n - 1e-9).toInt)

  /** Nearest-rank percentile of an ascending array (q in (0, 1]). */
  def percentile(sorted: Array[Double], q: Double): Double = {
    require(sorted.nonEmpty && q > 0 && q <= 1)
    sorted(rank(sorted.length, q) - 1)
  }

  /** Samples strictly beyond the nearest-rank q-th percentile of n. */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  /** The tail rule: the highest whole percentile that still has at least
    * `minBeyond` samples beyond it among n, or None when n is too small
    * to have a tail at all. A workload fixes its tail from the sample
    * count it expects, so every run reports the same percentile. */
  def tailQuantile(n: Int, minBeyond: Int = 10): Option[Double] =
    (99 to 1 by -1).map(_ / 100.0).find(q => beyond(n, q) >= minBeyond)

  /** Length of the union of [start, end) intervals, each clipped to
    * [lo, hi). Overlapping or nested intervals count once. */
  def coveredWithin(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Self time of a span: its duration minus the part of it that the
    * Spark jobs it started cover. */
  def selfTime(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long =
    (end - start) - coveredWithin(start, end, jobs)

  /** The p50 figure of a class of operations: each op type's median,
    * weighted by how many of that type ran. For one op type it is that
    * type's median. A pooled median of a class that mixes op types of
    * different cost sits between the modes of the mix and jumps between
    * them from run to run; this figure moves smoothly with each type's
    * cost. */
  def typical(samples: Seq[(String, Double)]): Double =
    samples.groupBy(_._1).values
      .map(s => s.size * percentile(s.map(_._2).sorted.toArray, 0.5))
      .sum / samples.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else percentile(xs.sorted.toArray, 0.5)
}
