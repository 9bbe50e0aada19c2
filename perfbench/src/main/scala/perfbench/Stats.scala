package perfbench

/** Order statistics used by every metric line. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** `op_p50_s` and `op_tail_s` from the op walls of each pass: per pass
    * the median op and the slowest op, then the median of each over the
    * passes. A percentile over all ops of a mixed op list lands on the
    * border between two op kinds (a run has 8 to 40 ops of 4 kinds), where
    * it swings between runs; per-pass figures do not. */
  def opLatency(passes: Seq[Seq[Double]]): (Double, Double) = {
    require(passes.nonEmpty && passes.forall(_.nonEmpty), "no ops")
    (median(passes.map(median)), median(passes.map(_.max)))
  }
}
