package graftbench

/** The benchmark's arithmetic, kept pure so the self-tests can pin it. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of the
    * samples at or below it (p in (0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  /** Mean of the samples at or above the nearest-rank `p`th percentile. */
  def tailMean(xs: Seq[Double], p: Double): Double = {
    val cut = percentile(xs, p)
    val tail = xs.filter(_ >= cut)
    tail.sum / tail.size
  }

  /** Exchange cost of a superstep kernel: shuffle bytes written per edge
    * visited (edges × supersteps). 0 when no edge was visited. */
  def bytesPerEdge(shuffleBytes: Long, edgeSupersteps: Long): Double =
    if (edgeSupersteps <= 0) 0.0 else shuffleBytes.toDouble / edgeSupersteps

  /** Edges processed per second over the calls that report supersteps. */
  def edgesPerSecond(edgeSupersteps: Long, wallSeconds: Double): Double =
    if (wallSeconds <= 0) 0.0 else edgeSupersteps / wallSeconds
}
