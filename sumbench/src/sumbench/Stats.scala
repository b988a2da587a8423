package sumbench

/** Order statistics for the benchmark's timings. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples a tail percentile must leave beyond it. */
  val TailBeyond = 10

  /** The highest percentile that has at least [[TailBeyond]] samples beyond
    * it: the sample with exactly that many larger-ranked samples, and its
    * percentile (share of samples at or below it). None below
    * `TailBeyond + 1` samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.length
    if (n <= TailBeyond) None
    else {
      val k = n - 1 - TailBeyond
      Some((xs.sorted.apply(k), 100.0 * (k + 1) / n))
    }
  }
}
