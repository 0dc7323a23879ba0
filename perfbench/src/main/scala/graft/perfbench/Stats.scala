package graft.perfbench

/** Order statistics for the benchmark's latency samples. */
object Stats {

  /** Percentile levels tried for a tail, highest first. */
  val TailLadder: Seq[Double] = Seq(0.99, 0.95, 0.9, 0.8, 0.75, 0.5)

  /** Samples a tail must leave beyond it before it is reported. */
  val MinBeyond = 10

  /** Nearest-rank percentile of `xs` (need not be sorted): the smallest
    * sample with at least `q` of the samples at or below it.
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0 && q <= 1, s"percentile level $q outside (0, 1]")
    val sorted = xs.sorted
    sorted(rank(sorted.length, q) - 1)
  }

  /** 1-based nearest rank of level `q` among `n` samples. */
  def rank(n: Int, q: Double): Int =
    math.max(1, math.min(n, math.ceil(q * n - 1e-9).toInt))

  /** Samples strictly beyond the level-`q` nearest rank. */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  /** The highest level of [[TailLadder]] at or below `cap` that leaves at
    * least [[MinBeyond]] samples beyond it among `n`, or None when even
    * the median does not.
    */
  def tailLevel(n: Int, cap: Double): Option[Double] =
    TailLadder.filter(_ <= cap + 1e-12).find(q => beyond(n, q) >= MinBeyond)

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** A latency summary: median, the tail at [[tailLevel]] (capped at
    * `cap`) and the sample count behind them. Without ten samples beyond
    * the median the tail is the median itself, at level 0.5.
    */
  final case class Summary(n: Int, p50: Double, tailLevel: Double,
      tail: Double)

  def summarize(xs: Seq[Double], cap: Double): Summary = {
    require(xs.nonEmpty, "no samples to summarize")
    val level = tailLevel(xs.length, cap).getOrElse(0.5)
    Summary(xs.length, median(xs), level, percentile(xs, level))
  }
}
