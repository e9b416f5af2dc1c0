package graftbench

/** Summary statistics of one run's samples. */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The tail of a latency sample: the highest percentile that still has at
    * least `beyond` samples strictly above it. Without ties that is the
    * (n - beyond)-th smallest value, at percentile 100 * (n - beyond) / n;
    * ties at that value push the tail down to the next distinct value.
    * When no percentile qualifies (too few samples) the tail is the maximum
    * and `ruleMet` is false, so a reader sees that the sample was too small.
    */
  final case class Tail(value: Double, percentile: Double, samples: Int,
                        beyond: Int, ruleMet: Boolean)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    def above(rank: Int): Int = s.count(_ > s(rank - 1)) // rank is 1-based
    var rank = n - beyond
    while (rank >= 1 && above(rank) < beyond) rank -= 1
    if (rank >= 1) Tail(s(rank - 1), 100.0 * rank / n, n, above(rank), ruleMet = true)
    else Tail(s.last, 100.0, n, 0, ruleMet = false)
  }
}
