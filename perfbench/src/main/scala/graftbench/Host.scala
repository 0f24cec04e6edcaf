package graftbench

/** Host record kept beside every run: a fixed single-thread calibration
  * kernel (its wall moves when the host is contended, not when the program
  * changes) and the CPU steal share read from /proc/stat. A run whose
  * calibrations disagree by more than 30%, or with more than 5% steal, is
  * flagged `degraded` — it is still reported, never dropped. */
final class Host {
  private val calibs = collection.mutable.ArrayBuffer.empty[Double]
  private val stat0 = Host.cpuTicks()

  /** Wall (ms) of 2^26 xorshift steps; the result is folded into a sink so
    * the JIT cannot drop the loop. */
  def calibrate(): Double = {
    if (calibs.isEmpty) Host.kernel() // the first call compiles the loop
    val t0 = System.nanoTime()
    Host.kernel()
    val ms = (System.nanoTime() - t0) / 1e6
    calibs += ms
    ms
  }

  def calibMs: Double = Stats.median(calibs.toSeq)

  def stealPct: Double = (stat0, Host.cpuTicks()) match {
    case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => 100.0 * (s1 - s0) / (t1 - t0)
    case _ => 0.0
  }

  def degraded: Boolean =
    stealPct > 5.0 || (calibs.size > 1 && calibs.max > 1.3 * calibs.min)

  def json: String =
    f"""{"calib_ms":[${calibs.map(c => f"$c%.2f").mkString(",")}],"steal_pct":$stealPct%.3f,"degraded":$degraded}"""
}

object Host {
  @volatile private var sink = 0L

  private def kernel(): Unit = {
    var x = 0x2545F4914F6CDD1DL
    var i = 0
    while (i < (1 << 26)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink ^= x
  }

  /** (steal, total) jiffies of the aggregate cpu line; None off Linux. */
  private def cpuTicks(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        src.getLines().find(_.startsWith("cpu ")).map { l =>
          val f = l.trim.split("\\s+").drop(1).map(_.toLong)
          (if (f.length > 7) f(7) else 0L, f.sum)
        }
      } finally src.close()
    } catch { case _: Exception => None }
}
