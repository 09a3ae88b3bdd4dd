package pipebench

/** Percentiles over weighted samples: each sample is a value that occurred
  * `count` times (one duty-cycle window closes for thousands of result rows
  * at once, so rows share a latency). Percentiles interpolate linearly
  * between the two closest ranks, the rule numpy and Python's
  * `statistics.quantiles(method="inclusive")` use.
  */
object Stats {

  final case class Summary(n: Long, p50: Double, p90: Double, p99: Double, max: Double)

  def percentile(values: Seq[Double], p: Double): Double =
    weightedPercentile(values.map(v => (v, 1L)), p)

  def weightedPercentile(samples: Seq[(Double, Long)], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    val sorted = samples.filter(_._2 > 0).sortBy(_._1).toArray
    val n = sorted.iterator.map(_._2).sum
    require(n > 0, "percentile of no samples")
    val rank = p / 100.0 * (n - 1)
    val lo = math.floor(rank).toLong
    val frac = rank - lo
    val a = valueAtRank(sorted, lo)
    if (frac == 0.0) a else a + (valueAtRank(sorted, lo + 1) - a) * frac
  }

  /** The value at 0-based rank `r` of the expanded sample. */
  private def valueAtRank(sorted: Array[(Double, Long)], r: Long): Double = {
    var seen = 0L
    var i = 0
    while (seen + sorted(i)._2 <= r) { seen += sorted(i)._2; i += 1 }
    sorted(i)._1
  }

  def summarize(samples: Seq[(Double, Long)]): Summary =
    if (samples.forall(_._2 <= 0)) Summary(0, Double.NaN, Double.NaN, Double.NaN, Double.NaN)
    else Summary(
      samples.map(_._2).sum,
      weightedPercentile(samples, 50), weightedPercentile(samples, 90),
      weightedPercentile(samples, 99), samples.filter(_._2 > 0).map(_._1).max)

  def median(values: Seq[Double]): Double = percentile(values, 50)
}
