package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed public call (or setup step / pass). `pass` is -1 for setup,
  * 0 for the untimed check pass and 1.. for timed passes. Counters are
  * filled by the [[Tracer]]'s listeners when the span was traced. */
final class Span(val id: Int, val name: String, val metric: String, val parent: Int,
                 val pass: Int, val traced: Boolean) {
  val startMs: Long = System.currentTimeMillis()
  private val startNs = System.nanoTime()
  var wallS: Double = 0.0
  var endMs: Long = 0L
  // counters (traced spans only)
  var jobs = 0L; var stages = 0L; var taskMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var spill = 0L; var planningMs = 0L
  // outcome
  var work = 0L; var supersteps = 0; var released = 0; var ok = true
  val extra: mutable.Map[String, Double] = mutable.Map.empty

  def close(): Unit = {
    wallS = (System.nanoTime() - startNs) / 1e9
    endMs = System.currentTimeMillis()
  }

  def json(runId: String): String = {
    val ex = extra.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    f"""{"run":"$runId","id":$id,"name":"$name","metric":"$metric","parent":$parent,"pass":$pass,""" +
      f""""traced":$traced,"start_ms":$startMs,"end_ms":$endMs,"wall_s":$wallS%.6f,""" +
      f""""jobs":$jobs,"stages":$stages,"task_ms":$taskMs,"gc_ms":$gcMs,""" +
      f""""shuffle_write":$shuffleWrite,"spill":$spill,"planning_ms":$planningMs,""" +
      s""""work":$work,"supersteps":$supersteps,"released":$released,"ok":$ok,"extra":{$ex}}"""
  }
}

/**
 * Span recorder. Every call gets a span; a traced span also tags its jobs
 * with `setJobGroup(span id)`, so a [[SparkListener]] registered here can
 * attribute tasks, stages, shuffle, spill and GC to it, and a
 * [[QueryExecutionListener]] attributes Catalyst planning time by the
 * span's time window. Jobs that carry no group (streaming micro-batches run
 * on their own thread) land in the `unattributed` bucket. Nothing inside the
 * engine is touched.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val unattributed = new Span(-1, "unattributed", "unattributed", -1, -1, true)
  private val planning = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, duration ms)
  @volatile private var tracing = false

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        val s = group.flatMap(g => Option(byId.get(g.stripPrefix("span-").toIntOption.getOrElse(-2))))
          .getOrElse(unattributed)
        jobSpan.put(e.jobId, s)
        e.stageIds.foreach(stageSpan.put(_, s))
        s.synchronized { s.jobs += 1 }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = Option(stageSpan.get(e.stageInfo.stageId)).getOrElse(unattributed)
        s.synchronized { s.stages += 1 }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val s = Option(stageSpan.get(e.stageId)).getOrElse(unattributed)
          s.synchronized {
            s.taskMs += m.executorRunTime
            s.gcMs += m.jvmGCTime
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases.values
        if (ph.nonEmpty) planning.synchronized {
          planning += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
        }
      }
    })
  }

  /** Trace the spans opened from now on (the traced run alternates traced
    * and untraced passes to price its own overhead). */
  def setTracing(on: Boolean): Unit = tracing = enabled && on

  def open(name: String, metric: String, pass: Int): Span = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.size, name, metric, parent, pass, tracing)
    spans += s
    stack.push(s)
    if (s.traced) {
      byId.put(s.id, s)
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    }
    s
  }

  def close(s: Span): Unit = {
    s.close()
    stack.pop()
    if (s.traced) stack.headOption.filter(_.traced) match {
      case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  def span(name: String, metric: String, pass: Int)(body: Span => Unit): Span = {
    val s = open(name, metric, pass)
    try body(s) finally close(s)
    s
  }

  /** Wait for the listener bus, then assign planning time to the innermost
    * traced span whose window holds each query's first planning phase.
    * Nested spans attribute their counters to the innermost span only. */
  def finish(): Unit = if (enabled) {
    org.apache.spark.ListenerDrain(sc)
    val traced = spans.filter(_.traced)
    planning.synchronized {
      planning.foreach { case (start, dur) =>
        val holder = traced.filter(s => s.startMs <= start && start <= s.endMs)
          .sortBy(s => s.endMs - s.startMs).headOption.getOrElse(unattributed)
        holder.planningMs += dur
      }
    }
  }

  def unattributedJobs: Long = unattributed.jobs

  def writeJsonl(path: java.io.File, runId: String): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try (spans :+ unattributed).foreach(s => w.println(s.json(runId))) finally w.close()
  }
}
