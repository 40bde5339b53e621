package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * (n-10)-th smallest of n samples, with its percentile 100*(n-10)/n.
    * None when there are fewer than eleven samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.length
    if (n < 11) None
    else Some((xs.sorted.apply(n - 11), 100.0 * (n - 10) / n))
  }
}
