package perfbench

/** Order statistics and interval arithmetic used by the reports. Pure, so
  * the benchmark's own specs pin them down without a Spark session. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `q` of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0 && q <= 1, s"percentile level must be in (0, 1], got $q")
    val s = xs.sorted
    s(rank(s.size, q) - 1)
  }

  /** 1-based nearest rank of level `q` among `n` samples. */
  def rank(n: Int, q: Double): Int =
    math.max(1, math.ceil(q * n - 1e-9).toInt)

  /** Samples strictly above the nearest-rank `q` percentile. */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  /** The highest of `levels` whose nearest-rank percentile leaves at least
    * `minBeyond` samples above it: a tail figure resting on fewer samples
    * than that is one outlier's value, not a percentile. */
  def tailLevel(
      n: Int,
      levels: Seq[Double] = Seq(0.99, 0.95, 0.9, 0.75, 0.5),
      minBeyond: Int = 10): Option[Double] =
    levels.sorted.reverse.find(q => beyond(n, q) >= minBeyond)

  /** Total length of the union of `intervals` clipped to `[lo, hi]`. */
  def covered(lo: Double, hi: Double, intervals: Seq[(Double, Double)])
      : Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curHi.isNaN || a > curHi) {
        if (!curHi.isNaN) total += curHi - curLo
        curLo = a; curHi = b
      } else if (b > curHi) curHi = b
    }
    if (!curHi.isNaN) total += curHi - curLo
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover. Children may overlap each other or stick out of the
    * span; only their union inside the span counts. With job intervals
    * as the children this is the driver gap: the time no job ran. */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)])
      : Double =
    (end - start) - covered(start, end, children)
}
