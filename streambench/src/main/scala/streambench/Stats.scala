package streambench

/** Order statistics for latency samples. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p <= 100) of sorted `xs`. */
  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "no samples")
    val rank = math.ceil(p / 100.0 * sorted.length).toInt
    sorted(math.min(math.max(rank, 1), sorted.length) - 1)
  }

  /** The highest percentile, at most `cap`, that still has at least
    * `beyond` samples above it, and its value: with too few samples for
    * a p99 the tail is reported at the percentile the sample supports.
    * Returns (percentile, value); with `beyond` or fewer samples the
    * smallest sample is the only supported one. */
  def supportedTail(sorted: Array[Double], cap: Double = 99.0,
                    beyond: Int = 10): (Double, Double) = {
    require(sorted.nonEmpty, "no samples")
    val n = sorted.length
    val capRank = math.ceil(cap / 100.0 * n).toInt // 1-based
    val rank = math.max(1, math.min(capRank, n - beyond))
    (100.0 * rank / n, sorted(rank - 1))
  }

  /** Length of the union of intervals (start, end). */
  def covered(iv: Iterable[(Double, Double)]): Double = {
    var total = 0.0
    var cur = (Double.NaN, Double.NaN)
    iv.toSeq.sortBy(_._1).foreach { x =>
      if (cur._1.isNaN || x._1 > cur._2) {
        if (!cur._1.isNaN) total += cur._2 - cur._1
        cur = x
      } else cur = (cur._1, math.max(cur._2, x._2))
    }
    if (cur._1.isNaN) total else total + cur._2 - cur._1
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else percentile(xs.sorted.toArray, 50)
}
