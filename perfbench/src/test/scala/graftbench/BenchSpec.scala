package graftbench

import java.io.File
import java.nio.file.Files

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{HadoopSnapshotStore, SnapshotStore}

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    val xs = (1 to 20).map(_.toDouble)
    assert(Stats.percentile(xs, 90) === 18.0)
    assert(Stats.percentile(xs, 100) === 20.0)
    assert(Stats.percentile(xs, 1) === 1.0)
    assert(Stats.percentile(Seq(7.0), 50) === 7.0)
    assert(Stats.percentile(Seq(5.0, 1.0, 4.0, 2.0, 3.0), 50) === 3.0)
    intercept[IllegalArgumentException](Stats.percentile(xs, 0))
    // slowest quarter of 1..20 is 15..20
    assert(Stats.tailMean(xs, 75) === 17.5)
    assert(Stats.tailMean(Seq(1.0, 2.0, 3.0, 9.0), 75) === 6.0)
  }

  test("bytes per edge and edges per second") {
    assert(Stats.bytesPerEdge(1200L, 100L) === 12.0)
    assert(Stats.bytesPerEdge(1200L, 0L) === 0.0)
    assert(Stats.edgesPerSecond(1000000L, 2.0) === 500000.0)
    assert(Stats.edgesPerSecond(10L, 0.0) === 0.0)
  }

  test("corrupted results fail their output checks") {
    val ranks = Map(1L -> 0.5, 2L -> 0.25, 3L -> 0.125)
    assert(Checks.bitIdentical("r", ranks, ranks).isEmpty)
    assert(Checks.bitIdentical("r", ranks.updated(2L, math.nextUp(0.25)), ranks).nonEmpty)
    assert(Checks.bitIdentical("r", ranks - 3L, ranks).nonEmpty)

    val edges = Seq(1L -> 2L, 2L -> 3L)
    assert(Checks.topoOrder(Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0), edges).isEmpty)
    assert(Checks.topoOrder(Map(1L -> 0.0, 2L -> 2.0, 3L -> 1.0), edges).nonEmpty)
    assert(Checks.topoOrder(Map(1L -> 0.0, 2L -> 1.0, 3L -> -1.0), edges).nonEmpty)

    assert(Checks.equal("n", 3L, 4L).nonEmpty)
  }

  test("metric names match BENCHMARK.json") {
    val src = scala.io.Source.fromFile(new File("../BENCHMARK.json"), "UTF-8")
    val json = try src.mkString finally src.close()
    def section(key: String): Seq[String] = {
      val body = json.split("\"" + key + "\"")(1).split("]")(0)
      "\"name\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    assert(section("end_to_end") === Metrics.endToEnd.map(_._1))
    assert(section("per_layer") === Metrics.perLayer.map(_._1))
    assert(section("workloads") === Main.Workloads)
  }

  // ---- runs against a local[4] session ----

  private val home = new File(".").getCanonicalFile
  private val work = Files.createTempDirectory("perfbench-spec").toFile
  private def opts(w: String, trace: Boolean) =
    Options(w, seed = 7L, seconds = 0.1, trace = trace, tiny = true, home = home,
      work = work, run = new File(work, "run"))
  private lazy val spark: SparkSession = Main.session(opts("csr_transcript", trace = false))

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(work)
  }

  private def run(w: Workload, opt: Options): (RunResult, Tracer, Host) = {
    val tr = new Tracer(spark, opt.trace)
    val host = new Host
    (new Runner(spark, w, opt, tr, host).run(), tr, host)
  }

  for (name <- Main.Workloads) test(s"smoke: $name at tiny size, untraced and traced") {
    val o = opts(name, trace = false)
    val (r, _, _) = run(Main.workload(spark, o), o)
    assert(r.correct, r.failures.mkString("\n"))
    val e2e = Metrics.endToEndOf(r)
    assert(e2e.map(_.name) === Metrics.endToEnd.map(_._1))
    assert(e2e.forall(_.value > 0), e2e.mkString(", "))

    val ot = opts(name, trace = true)
    val w = Main.workload(spark, ot)
    val (rt, tr, host) = run(w, ot)
    assert(rt.correct, rt.failures.mkString("\n"))
    assert(rt.passWalls.exists(_._2) && rt.passWalls.exists(!_._2), "traced runs alternate")
    val layer = Metrics.perLayerOf(rt, w.facts.toMap, host, tr.unattributedJobs).map(m => m.name -> m.value).toMap
    assert(layer.keySet === Metrics.perLayer.map(_._1).toSet)
    val touched = if (name == "csr_transcript") Seq("core.extract_s", "engine.csr.converge_s",
      "engine.snapshot.writes", "engine.csr.converge_supersteps") else Seq("queries.relational_s", "queries.jobs")
    touched.foreach(m => assert(layer(m) > 0, m))
    if (name == "csr_transcript") assert(layer("engine.csr.hot_vertices") === 0.0)
  }

  test("a call whose result changes between passes, or fails its check, is counted failed") {
    var n = 0
    val flaky = new Workload {
      def prepare(): Unit = ()
      def setup(tr: Tracer): Unit = ()
      def facts: Seq[(String, Double)] = Nil
      def warmSetups: Int = 1
      def calls(pass: Int): Seq[Call] = Seq(
        Call("drifts", "x", () => { n += 1; Outcome(digest = n.toString) }),
        Call("wrong", "x", () => Outcome(digest = "same", check = () => Checks.equal("answer", 41, 42))),
        Call("fine", "x", () => Outcome(digest = "same")))
    }
    val (r, _, _) = run(flaky, opts("csr_transcript", trace = false))
    assert(!r.correct)
    assert(r.failures.exists(_.contains("wrong (pass 0): answer")))
    assert(r.failures.exists(_.startsWith("drifts (pass 1)")))
    assert(!r.failures.exists(_.startsWith("fine")))
  }

  test("a resume that finds no checkpoint fails the durable check") {
    // writes go through; the commit pointer is never found, so the second
    // leg recomputes from scratch and returns the same ranks
    val blind = new SnapshotStore {
      private val h = HadoopSnapshotStore
      def writeText(sc: SparkContext, path: String, text: String): Unit = h.writeText(sc, path, text)
      def readText(sc: SparkContext, path: String): Option[String] = None
      def exists(sc: SparkContext, path: String): Boolean = h.exists(sc, path)
      def deleteIfExists(sc: SparkContext, path: String): Unit = h.deleteIfExists(sc, path)
      def writeState(state: DataFrame, path: String): Unit = h.writeState(state, path)
      def readState(spark: SparkSession, path: String): DataFrame = h.readState(spark, path)
      def writeBlocks[T: ClassTag](blocks: RDD[(Int, T)], path: String): Unit = h.writeBlocks(blocks, path)
      def readBlocks[T: ClassTag](sc: SparkContext, path: String): RDD[(Int, T)] = h.readBlocks[T](sc, path)
    }
    val o = opts("csr_transcript", trace = false)
    val (r, _, _) = run(new CsrTranscript(spark, o, blind), o)
    assert(!r.correct)
    assert(r.failures.exists(_.startsWith("durable_resume (pass 0): resume snapshot reads")), r.failures.mkString("\n"))
    assert(!r.failures.exists(_.startsWith("durable_first_half")), r.failures.mkString("\n"))
  }
}
