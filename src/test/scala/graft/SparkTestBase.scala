package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Using

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one JVM for tests). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs started by `body`. */
  def jobsOf[A](body: => A): (A, Int) = {
    val (a, jobs, _) = jobsAndStagesOf(body)
    (a, jobs)
  }

  /** Spark jobs started and stages run by `body`; a stage skipped because
    * its shuffle output already exists is never submitted, so it does not
    * count. Listener events arrive asynchronously but in order, so a marker
    * job seen by the listener closes the count. */
  def jobsAndStagesOf[A](body: => A): (A, Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val markers = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.marker") != null))
          markers.incrementAndGet()
        else jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (!Option(e.properties).exists(_.getProperty("graft.marker") != null))
          stages.incrementAndGet()
    }
    def marker(): Unit = {
      val seen = markers.get
      sc.setLocalProperty("graft.marker", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.marker", null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (markers.get == seen && System.nanoTime() < deadline) Thread.sleep(5)
      org.scalatest.Assertions.assert(markers.get > seen,
        "listener bus did not deliver the marker job")
    }
    sc.addSparkListener(l)
    try {
      marker()
      jobs.set(0)
      stages.set(0)
      val a = body
      marker()
      (a, jobs.get, stages.get)
    } finally sc.removeSparkListener(l)
  }

  /** Runs `f` on a fresh temporary directory named `prefix…` and deletes
    * the directory with everything in it afterwards. */
  def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir.toString)
    finally Using.resource(Files.walk(dir)) { paths =>
      paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    }
  }

  /** Path of a bundled GraphMat reference graph (FIXTURES.md §2): the
    * committed copy if there is one, else a GraphMat checkout's
    * (`GoldenGen.fixturePath`). Cancels the calling test when neither exists. */
  def refData(name: String): String = {
    val path = graft.tools.GoldenGen.fixturePath(name)
    org.scalatest.Assertions.assume(
      java.nio.file.Files.exists(path), s"reference graph $path does not exist")
    path.toString
  }

  /** The reference's `data/test.bin.mtx` as a literal — 8 vertices, 13
    * unit-weight edges (FIXTURES.md §2, decoded from the binary fixture). */
  val testGraphEdges: Seq[(Long, Long)] = Seq(
    (1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (3L, 6L), (3L, 8L),
    (4L, 5L), (4L, 6L), (4L, 7L), (5L, 7L), (6L, 7L), (6L, 8L))

  /** In-test oracle replicating GraphMat PageRank semantics exactly
    * (`src/PageRank.cpp`): init 0.3; pr' = α+(1−α)Σ pr/outdeg applied only to
    * message receivers; stop when no vertex moves > tol. Sequential fold. */
  def refPageRank(edges: Seq[(Long, Long)], alpha: Double = 0.3,
                  tol: Double = 1e-5): Map[Long, Double] = {
    val vs = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val outDeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
    val inEdges = edges.groupBy(_._2)
    var pr = vs.map(_ -> 0.3).toMap
    var done = false
    while (!done) {
      val next = vs.map { v =>
        inEdges.get(v) match {
          case Some(es) =>
            v -> (alpha + (1 - alpha) * es.map { case (u, _) => pr(u) / outDeg(u) }.sum)
          case None => v -> pr(v)
        }
      }.toMap
      done = vs.forall(v => math.abs(next(v) - pr(v)) <= tol)
      pr = next
    }
    pr
  }
}
