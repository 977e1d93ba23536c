package perfbench

/** The benchmark's summary statistics, kept free of Spark so the unit
  * tests pin them exactly.
  */
object Stats {

  /** Median of a non-empty sample (mean of the middle two for even n). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    graft.Bench.median(xs)
  }

  /** Nearest-rank percentile: the smallest value with at least `p`
    * percent of the sample at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.max(rank, 1) - 1)
  }

  /** A "tail" timing: the highest whole percentile that still has at
    * least `beyond` samples above its rank, with the percentile and the
    * sample count it was taken from. None when fewer than `beyond` + 1
    * samples exist, because then no percentile has that many beyond it.
    */
  final case class Tail(value: Double, percentile: Int, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      // rank r = ceil(p n / 100) leaves n - r samples beyond it
      val p = (100 to 0 by -1).find { p =>
        n - math.max(math.ceil(p / 100.0 * n).toInt, 1) >= beyond
      }.get
      Some(Tail(percentile(xs, p), p, n))
    }
  }

  /** Executor busy time over the capacity the run had: busy ÷ (wall ×
    * cores). 1.0 means every core ran a task for the whole window.
    */
  def parallelEfficiency(busySeconds: Double, wallSeconds: Double,
                         cores: Int): Double = {
    require(wallSeconds > 0 && cores > 0, "empty window or no cores")
    busySeconds / (wallSeconds * cores)
  }

  /** A byte ratio such as bytes written per user byte; the base must be
    * positive, since a ratio without a base is not a measurement.
    */
  def ratio(bytes: Long, baseBytes: Long): Double = {
    require(baseBytes > 0, s"ratio over a non-positive base ($baseBytes)")
    bytes.toDouble / baseBytes
  }
}
