package perfbench

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Highest of p50/p90/p99 that has at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Seq[(String, Double)] =
    Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)
      .filter { case (_, q) => xs.length * (1 - q) >= 10 || q == 0.5 }
      .map { case (n, q) => n -> quantile(xs, q) }

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
