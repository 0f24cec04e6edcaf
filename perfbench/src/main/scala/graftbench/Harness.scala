package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one call returned. `digest` fingerprints the result (compared
  * against the check pass on every timed pass); `check` runs on the check
  * pass only, outside any timed window, and returns the failed assertions;
  * `extra` carries per-call layer counters (e.g. snapshot IO). */
final case class Outcome(
    digest: String = "",
    work: Long = 0L,         // edges × supersteps, for calls that run supersteps
    supersteps: Int = 0,
    check: () => Seq[String] = () => Nil,
    extra: Map[String, Double] = Map.empty)

/** One public call of the library, named by the per-layer metric it feeds. */
final case class Call(name: String, metric: String, body: () => Outcome)

trait Workload {
  /** Generate (or reuse) the seeded inputs. Never timed. */
  def prepare(): Unit
  /** Read inputs and build the views the calls share; timed as setup. Must
    * keep its state at the RDD level: Dataset caches are swept after each call. */
  def setup(tr: Tracer): Unit
  /** The calls of pass `pass` (0 = the check pass), in order. */
  def calls(pass: Int): Seq[Call]
  /** Input facts for the record (edges, vertices, hot vertices, ...). */
  def facts: Seq[(String, Double)]
  /** Set-ups after the cold one; `setup_s` is the median of all of them. */
  def warmSetups: Int
}

/** `home` is the benchmark's directory (bundled tables, golden digests);
  * `work` holds the per-seed input cache; `run` is this run's scratch. */
final case class Options(workload: String, seed: Long, seconds: Double, trace: Boolean,
                         tiny: Boolean, home: java.io.File, work: java.io.File, run: java.io.File,
                         captureGolden: Option[java.io.File] = None)

final case class RunResult(
    attempted: Int, failed: Int, failures: Seq[String],
    setupWalls: Seq[Double], passWalls: Seq[(Int, Boolean, Double)],
    storagePeakBytes: Long, spans: Seq[Span], digests: Map[String, String],
    warnings: Seq[String]) {
  def correct: Boolean = failed == 0
}

/**
 * The measuring loop: a cold set-up, one untimed check pass that also warms
 * the JIT, the workload's warm set-ups (the last one is kept), then
 * [[Runner.TimedPasses]] timed passes. The count is fixed, not fitted to
 * `seconds`, so a faster build gets no more samples than a slower one. A
 * traced run alternates traced and untraced passes. After each call
 * everything it persisted is released, so calls never feed each other
 * through the cache.
 */
final class Runner(spark: SparkSession, w: Workload, opt: Options, tr: Tracer, host: Host) {
  private val sc = spark.sparkContext
  private var attempted = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private var failedCalls = 0
  private val digests = mutable.Map.empty[String, String]
  private var storagePeak = 0L
  private var baseline = Set.empty[Int]
  // the run's own bookkeeping (storage reads, releases) that threw: reported,
  // not counted against the program
  private val warnings = mutable.ArrayBuffer.empty[String]

  private def noted[T](what: String, fallback: T)(body: => T): T =
    try body catch { case e: Exception => warnings += s"$what: $e"; fallback }

  private def persistentIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  private def storageBytes: Long = noted("storage read", 0L) {
    sc.getRDDStorageInfo.iterator.map(i => i.memSize + i.diskSize).sum
  }

  /** Drop every Dataset cache and every RDD persisted since `baseline`;
    * returns how many RDDs were released. */
  private def release(): Int = noted("release", 0) {
    val fresh = sc.getPersistentRDDs.filter { case (id, _) => !baseline.contains(id) }
    spark.catalog.clearCache()
    fresh.values.foreach(_.unpersist(blocking = true))
    fresh.size
  }

  private def runCall(c: Call, pass: Int): Unit = {
    attempted += 1
    val s = tr.open(c.name, c.metric, pass)
    val out =
      try Right(c.body())
      catch { case e: Throwable => Left(s"${c.name} (pass $pass) threw: $e") }
      finally tr.close(s)
    val errs = out match {
      case Left(err) => Seq(err)
      case Right(o) =>
        s.work = o.work
        s.supersteps = o.supersteps
        s.extra ++= o.extra
        val checked =
          if (pass == 0) {
            digests(c.name) = o.digest
            try o.check() catch { case e: Throwable => Seq(s"check threw: $e") }
          } else if (!digests.get(c.name).contains(o.digest))
            Seq(s"result digest ${o.digest} differs from the check pass's ${digests.get(c.name)}")
          else Nil
        checked.map(e => s"${c.name} (pass $pass): $e")
    }
    if (errs.nonEmpty) { s.ok = false; failedCalls += 1; failures ++= errs }
    storagePeak = math.max(storagePeak, storageBytes)
    s.released = release()
  }

  private def runPass(pass: Int): Span =
    tr.span(s"pass-$pass", "pass", pass)(_ => w.calls(pass).foreach(runCall(_, pass)))

  private val t0 = System.nanoTime()
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $name")

  private def setupOnce(rep: Int): Double =
    tr.span(s"setup-$rep", "setup", -1) { _ =>
      w.setup(tr)
      spark.catalog.clearCache() // setup state lives at the RDD level only
    }.wallS

  def run(): RunResult = {
    tr.setTracing(true) // a traced run traces everything but its untraced comparison passes
    w.prepare()
    phase("inputs ready")
    host.calibrate()
    val pre = persistentIds
    val cold = setupOnce(0) // its state serves the check pass, which also warms the JIT
    baseline = persistentIds
    phase("cold setup done")
    runPass(0)
    phase("check pass done")
    // warm set-ups, each replacing the previous state; setup_s is the median
    // of these and the cold one
    val setupWalls = cold +: (1 to w.warmSetups).map { i =>
      baseline = pre
      release()
      setupOnce(i)
    }
    baseline = persistentIds
    storagePeak = math.max(storagePeak, storageBytes)
    phase("measured setups done")
    host.calibrate()

    val walls = (1 to Runner.TimedPasses).map { pass =>
      val traced = opt.trace && pass % 2 == 1
      tr.setTracing(traced)
      (pass, traced, runPass(pass).wallS)
    }
    tr.setTracing(false)
    phase(s"${walls.size} timed passes done")
    host.calibrate()
    tr.finish()
    RunResult(attempted, failedCalls, failures.toSeq, setupWalls, walls,
      storagePeak, tr.spans.toSeq, digests.toMap, warnings.toSeq)
  }
}

object Runner {
  /** Every call's end-to-end figure is its best wall over these passes. */
  val TimedPasses = 2
}
