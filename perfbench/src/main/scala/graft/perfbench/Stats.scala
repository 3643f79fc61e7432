package graft.perfbench

/** Order statistics used by every workload. */
object Stats {

  /** Nearest-rank percentile of `xs` (p in (0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val sorted = xs.sorted
    // the epsilon keeps binary rounding (99.9 / 100 * 10000 > 9990) from
    // moving the rank up by one
    val rank = math.ceil(p / 100.0 * sorted.length - 1e-9).toInt.max(1)
    sorted(rank - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The tail a run reports: percentile `p`, its value, the sample count
    * and how many samples lie strictly beyond the value. */
  final case class Tail(p: Double, value: Double, nSamples: Int, nBeyond: Int)

  /** The highest percentile a tail is reported at. */
  val TailP = 90.0

  /** Percentiles a tail may be reported at, highest first. */
  val Ladder: Seq[Double] = Seq(TailP, 75, 50)

  /** The highest ladder percentile with at least 10 samples strictly
    * beyond its value. None when even the median has fewer. */
  def tail(xs: Seq[Double]): Option[Tail] =
    if (xs.isEmpty) None
    else Ladder.iterator.map { p =>
      val v = percentile(xs, p)
      Tail(p, v, xs.length, xs.count(_ > v))
    }.find(_.nBeyond >= 10)
}
