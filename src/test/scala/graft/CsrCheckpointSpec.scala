package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Edge, LinkGraph}
import graft.engine.{CsrCheckpoint, GatherScatter}
import SparkTestBase.withTempDir

/** Durable mid-algorithm checkpoint/resume on the CSR fast path (north rule:
  * per-partition frontier state + lineage + iteration metrics, resumable).
  * The invariant under test: an interrupted-then-resumed run is
  * INDISTINGUISHABLE from an uninterrupted one — bit-identical state, same
  * global superstep count — because the checkpoint stores the exact doubles
  * and supersteps are deterministic. */
class CsrCheckpointSpec extends AnyFunSuite {
  lazy val s = SparkTestBase.spark

  // planted hub (exercises the hot-mirror path) + chains (gives the fixpoint
  // some diameter) — same shape as GatherScatterSpec's skew fixture
  private lazy val fixture: LinkGraph = {
    val hub = (2L to 501L).map(d => Edge(1L, d, 1.0))
    val chains = (0 until 10).flatMap(c =>
      (0 until 12).map(i => Edge(10000L + c * 100 + i, 10000L + c * 100 + i + 1, 1.0)))
    LinkGraph.fromSeq(s, hub ++ chains, 8)
  }

  private def ranksMap(r: org.apache.spark.rdd.RDD[GatherScatter.RankBlock]) =
    r.flatMap(b => b.ids.zip(b.pr)).collect().toMap

  test("pageRankConverged: interrupted run resumes to a bit-identical result") {
    withTempDir("graft-cp") { dir =>
      val g = GatherScatter.build(fixture, 8, hotDegree = 100)
      try {
        val (refR, refIters) = GatherScatter.pageRankConverged(g, 0.3, 1e-5)
        val ref = ranksMap(refR)
        refR.unpersist(false)
        assert(refIters > 4, s"fixture must take several supersteps, got $refIters")

        // "crash" after 3 supersteps (checkpoints commit at every=2 and at the
        // maxIterations stop), then resume with the same cp handle
        val cp = Some(CsrCheckpoint(dir, "pr-run", every = 2))
        val (partR, it0) = GatherScatter.pageRankConverged(g, 0.3, 1e-5,
          maxIterations = 3, cp = cp)
        partR.unpersist(false)
        assert(it0 === 3)
        val (resR, iters) = GatherScatter.pageRankConverged(g, 0.3, 1e-5, cp = cp)
        val res = ranksMap(resR)
        resR.unpersist(false)
        assert(iters === refIters, "resumed global superstep count must match uninterrupted")
        assert(res.keySet === ref.keySet)
        for ((k, v) <- ref) assert(res(k) == v, s"vertex $k not bit-identical")

        // the run directory carries the durable record: per-superstep metrics,
        // per-partition lineage, and a commit pointer marking convergence
        val root = java.nio.file.Paths.get(dir, "pr-run")
        val latest = new String(java.nio.file.Files.readAllBytes(root.resolve("latest.json")))
        assert(latest.contains(s""""iteration":$refIters"""))
        assert(latest.contains(""""converged":true"""))
        val metricLines = java.nio.file.Files.readAllLines(root.resolve("metrics.jsonl"))
        assert(metricLines.size === refIters, s"one metrics line per superstep: $metricLines")
        assert(metricLines.get(refIters - 1).contains(""""changed":0"""))
        val parts = new String(java.nio.file.Files.readAllBytes(root.resolve("partitions.json")))
        assert("""\{"partition":\d+""".r.findAllIn(parts).size === 8)

        // resuming a CONVERGED run returns immediately with the same state
        val (againR, againIters) = GatherScatter.pageRankConverged(g, 0.3, 1e-5, cp = cp)
        val again = ranksMap(againR)
        againR.unpersist(false)
        assert(againIters === refIters)
        for ((k, v) <- ref) assert(again(k) == v)
      } finally {
        g.unpersist()
        fixture.unpersistAll()
      }
    }
  }

  test("connectedComponents: values-only checkpoint resumes to the same fixpoint") {
    withTempDir("graft-cp") { dir =>
      val und = fixture.undirected
      val g = GatherScatter.build(und, 8)
      try {
        val (refR, refIters) = GatherScatter.connectedComponents(g)
        val ref = ranksMap(refR)
        refR.unpersist(false)
        assert(refIters > 3, s"chains must take several supersteps, got $refIters")

        val cp = Some(CsrCheckpoint(dir, "cc-run", every = 2))
        GatherScatter.connectedComponents(g, maxIterations = 2, cp = cp)._1.unpersist(false)
        // resume re-activates every partition (min is monotone + idempotent),
        // so values, changed counts, and the stop superstep all reproduce
        val (resR, iters) = GatherScatter.connectedComponents(g, cp = cp)
        val res = ranksMap(resR)
        resR.unpersist(false)
        assert(iters === refIters)
        assert(res === ref)
      } finally {
        g.unpersist()
        und.unpersistAll()
        fixture.unpersistAll()
      }
    }
  }

  test("labelPropagation: interrupted run resumes to identical labels and count") {
    withTempDir("graft-cp") { dir =>
      val und = fixture.undirected
      val g = GatherScatter.build(und, 8)
      try {
        val (refR, refIters) = GatherScatter.labelPropagation(g, 8)
        val ref = ranksMap(refR)
        refR.unpersist(false)
        val cp = Some(CsrCheckpoint(dir, "lp-run", every = 1))
        GatherScatter.labelPropagation(g, 2, cp = cp)._1.unpersist(false)
        // every LP superstep is dense (mode is recomputed from all neighbor
        // messages), so resume from the exact saved labels is superstep-for-
        // superstep identical to the uninterrupted run
        val (resR, iters) = GatherScatter.labelPropagation(g, 8, cp = cp)
        val res = ranksMap(resR)
        resR.unpersist(false)
        assert(iters === refIters)
        assert(res === ref)
      } finally {
        g.unpersist()
        und.unpersistAll()
        fixture.unpersistAll()
      }
    }
  }

  test("resume refuses a checkpoint whose layout does not match the graph") {
    withTempDir("graft-cp") { dir =>
      val cp = Some(CsrCheckpoint(dir, "mismatch", every = 1))
      val g8 = GatherScatter.build(fixture, 8)
      GatherScatter.pageRankConverged(g8, 0.3, 1e-5, maxIterations = 1, cp = cp)
        ._1.unpersist(false)
      g8.unpersist()
      val g4 = GatherScatter.build(fixture, 4) // different partitioning
      try {
        val e = intercept[Exception] {
          GatherScatter.pageRankConverged(g4, 0.3, 1e-5, cp = cp)._1.count()
        }
        def messages(t: Throwable): List[String] =
          if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)
        assert(messages(e).exists(_.contains("does not align")),
          s"unexpected failure: ${messages(e)}")
      } finally {
        g4.unpersist()
        fixture.unpersistAll()
      }
    }
  }
}
