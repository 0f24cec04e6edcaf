package graft.engine

import scala.concurrent.{blocking, Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext

/**
 * Durable mid-algorithm checkpoint/resume, one protocol for both engines
 * (north rule: "each superstep checkpoints per-partition frontier state plus
 * lineage and iteration metrics ... so runs resume mid-algorithm"). Every
 * `every`-th superstep, the budget's last and the one that converged commit
 * under `dir/runId`: the full vertex state `iter=N/state` (parquet on the
 * Column engine, per-partition blocks with their id layout on the CSR
 * engine), `metrics.jsonl` ([[IterationMetrics]]), once per run directory
 * the per-partition lineage `partitions.json`, and last `latest.json`
 * (`{"iteration":N,"converged":…,"partitions":…}`), the only commit. The
 * text commit runs on a background thread while the next superstep
 * computes; a run returns (or throws) only after its last commit is
 * durable. A run whose `dir/runId` holds a committed pointer RESUMES from
 * it: budget and returned superstep count are global, and a converged
 * checkpoint returns at once. All durable IO goes through `store`
 * ([[SnapshotStore]]): Iceberg snapshot commits in production, and the
 * default [[HadoopSnapshotStore]] (files with a pointer on any Hadoop
 * FileSystem) where no Iceberg jars are on the classpath.
 */
final case class CheckpointConfig(dir: String, runId: String, every: Int = 8,
                                  store: SnapshotStore = HadoopSnapshotStore)

/** A committed pointer; `partitions` is the partition count it records. */
private[engine] final case class Committed(iteration: Int, converged: Boolean,
                                           partitions: Option[Int])

/** The checkpoint side of one run of either engine ([[CheckpointConfig]]):
  * it records every superstep's metrics and, with a config, resumes and
  * commits. The engine writes and reads its own state at [[statePath]] and
  * supplies `lineage`, one field list per partition, evaluated at most once.
  * At most one commit is in flight, so the pointer only moves forward;
  * [[close]] awaits it and rethrows its failure, and every exit of a run
  * must close (`Using`). `budget` is -1 for none. */
private[engine] final class Checkpoints(cp: Option[CheckpointConfig], sc: SparkContext,
                                        budget: Int, partitions: Int)(
    lineage: () => Seq[Seq[(String, Long)]]) extends AutoCloseable {
  private var recorded = Vector.empty[IterationMetrics]
  private var lineagePending = true
  private var inFlight: Future[Unit] = Future.unit

  private def root(c: CheckpointConfig) = s"${c.dir}/${c.runId}"

  /** Every superstep recorded so far, those before a resume included. */
  def metrics: Vector[IterationMetrics] = recorded

  /** Where the state of superstep `it` is saved (needs a config). */
  def statePath(it: Int): String = s"${root(cp.get)}/iter=$it/state"

  /** Whether superstep `it`'s checkpoint is due by cadence or budget. */
  def due(it: Int): Boolean = cp.exists(c => it % c.every == 0 || (budget >= 0 && it >= budget))

  /** The committed checkpoint, None when there is none; it also restores
    * the metrics recorded up to it. */
  def resume(): Option[Committed] = cp.flatMap { c =>
    c.store.readText(sc, s"${root(c)}/latest.json").map { txt =>
      def field(k: String) = s""""$k"\\s*:\\s*(\\w+)""".r.findFirstMatchIn(txt).map(_.group(1))
      val it = field("iteration").get.toInt
      recorded = c.store.readText(sc, s"${root(c)}/metrics.jsonl")
        .map(IterationMetrics.parse(_, it)).getOrElse(Vector.empty)
      Committed(it, field("converged").contains("true"), field("partitions").map(_.toInt))
    }
  }

  /** Records superstep `it` and commits its checkpoint when it is [[due]]
    * or the run converged on it: after the previous commit has landed,
    * `save` writes the state at [[statePath]] unless the engine has
    * `written` it already, then the text commit starts in the background.
    * Returns whether it committed. */
  def commit(it: Int, converged: Boolean, changed: Long, millis: Long,
             written: Boolean = false)(save: String => Unit): Boolean = {
    recorded :+= IterationMetrics(it, changed, millis)
    val committing = cp.filter(_ => due(it) || converged)
    committing.foreach { c =>
      close() // the previous commit, which ran alongside this superstep
      if (!written) save(statePath(it))
      val texts = lineageText(c).toSeq ++ Seq(
        s"${root(c)}/metrics.jsonl" -> IterationMetrics.jsonl(recorded),
        // the pointer commits the checkpoint — written LAST, so a crash
        // during any earlier write leaves the previous state resumable
        s"${root(c)}/latest.json" ->
          s"""{"iteration":$it,"converged":$converged,"partitions":$partitions}""")
      // no Spark job runs on the commit thread, only store text writes
      inFlight = Future(blocking(texts.foreach { case (p, t) => c.store.writeText(sc, p, t) }))(
        ExecutionContext.global)
    }
    committing.isDefined
  }

  /** Awaits the in-flight commit; rethrows its failure. */
  def close(): Unit = {
    val f = inFlight
    inFlight = Future.unit
    Await.result(f, Duration.Inf)
  }

  /** `partitions.json`, on the run directory's first commit only. */
  private def lineageText(c: CheckpointConfig): Option[(String, String)] = {
    val path = s"${root(c)}/partitions.json"
    val first = lineagePending
    lineagePending = false
    Option.when(first && !c.store.exists(sc, path)) {
      path -> lineage().zipWithIndex.map { case (fields, p) =>
        (("partition" -> p.toLong) +: fields).map { case (k, v) => s""""$k":$v""" }
          .mkString("{", ",", "}")
      }.mkString("[", ",", "]")
    }
  }
}
