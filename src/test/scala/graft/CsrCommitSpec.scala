package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Edge, LinkGraph}
import graft.algos.ConnectedComponents
import graft.engine.{CheckpointConfig, CsrCheckpoint, GatherScatter, HadoopSnapshotStore, RunResult,
  SnapshotStore}
import SparkTestBase.{jobsOf, withTempDir}

/** The cost side of CSR checkpointing: a due checkpoint's state write is the
  * superstep's own Spark job, its blocks land as one file per partition with
  * no output-committer leftovers, and a pointer commit that fails on its
  * background thread fails the run while the last committed state stays
  * resumable — on the Column engine too, which commits on the same thread. */
class CsrCommitSpec extends AnyFunSuite {
  lazy val s = SparkTestBase.spark

  // planted hub (hot-mirror path) + chains (several supersteps)
  private lazy val fixture: LinkGraph = {
    val hub = (2L to 501L).map(d => Edge(1L, d, 1.0))
    val chains = (0 until 10).flatMap(c =>
      (0 until 12).map(i => Edge(10000L + c * 100 + i, 10000L + c * 100 + i + 1, 1.0)))
    LinkGraph.fromSeq(s, hub ++ chains, 8)
  }

  private def ranksMap(r: org.apache.spark.rdd.RDD[GatherScatter.RankBlock]) =
    r.flatMap(b => b.ids.zip(b.pr)).collect().toMap

  private def partFiles(dir: String): Set[String] =
    new java.io.File(dir).list().filterNot(_.startsWith(".")).toSet

  test("every = 1: the state write is the superstep's job; one part file per partition") {
    withTempDir("graft-commit") { dir =>
      val g = GatherScatter.build(fixture, 8, hotDegree = 100)
      try {
        val (plainR, plainIters) = GatherScatter.pageRankConverged(g, 0.3, 1e-5)
        plainR.unpersist(false)
        assert(plainIters > 4, s"fixture must take several supersteps, got $plainIters")
        val cp = Some(CsrCheckpoint(dir, "jobs", every = 1))
        val ((cpR, cpIters), cpJobs) =
          jobsOf(GatherScatter.pageRankConverged(g, 0.3, 1e-5, cp = cp))
        cpR.unpersist(false)
        assert(cpIters === plainIters)
        // per superstep one hub-mirror collect and the superstep's job, which
        // writes its state; plus the result's job and the one partitions.json
        // collect. A separate write job per checkpoint would add cpIters more
        assert(cpJobs <= 2 * cpIters + 2, s"$cpJobs jobs checkpointed over $cpIters supersteps")
        for (i <- 1 to cpIters)
          assert(partFiles(s"$dir/jobs/iter=$i/state") === (0 until 8).map(p => f"part-$p%05d").toSet,
            s"iter=$i")
      } finally {
        g.unpersist()
        fixture.unpersistAll()
      }
    }
  }

  /** The Hadoop store, except that the `failAt`-th pointer write throws. */
  private class FailingPointerStore(failAt: Int) extends SnapshotStore {
    private val pointers = new AtomicInteger
    def writeText(sc: org.apache.spark.SparkContext, path: String, text: String): Unit = {
      if (path.endsWith("/latest.json") && pointers.incrementAndGet() == failAt)
        throw new java.io.IOException(s"injected failure of pointer write $failAt")
      HadoopSnapshotStore.writeText(sc, path, text)
    }
    def readText(sc: org.apache.spark.SparkContext, path: String) = HadoopSnapshotStore.readText(sc, path)
    def exists(sc: org.apache.spark.SparkContext, path: String) = HadoopSnapshotStore.exists(sc, path)
    def deleteIfExists(sc: org.apache.spark.SparkContext, path: String): Unit =
      HadoopSnapshotStore.deleteIfExists(sc, path)
    def writeState(state: org.apache.spark.sql.DataFrame, path: String): Unit =
      HadoopSnapshotStore.writeState(state, path)
    def readState(spark: org.apache.spark.sql.SparkSession, path: String) =
      HadoopSnapshotStore.readState(spark, path)
    def writeBlocks[T: scala.reflect.ClassTag](
        blocks: org.apache.spark.rdd.RDD[(Int, T)], path: String): Unit =
      HadoopSnapshotStore.writeBlocks(blocks, path)
    def readBlocks[T: scala.reflect.ClassTag](sc: org.apache.spark.SparkContext, path: String) =
      HadoopSnapshotStore.readBlocks[T](sc, path)
  }

  test("a failed pointer commit fails the run; the committed state resumes bit-identically") {
    withTempDir("graft-commit") { dir =>
      val g = GatherScatter.build(fixture, 8, hotDegree = 100)
      try {
        val (refR, refIters) = GatherScatter.pageRankConverged(g, 0.3, 1e-5)
        val ref = ranksMap(refR)
        refR.unpersist(false)
        assert(refIters > 4, s"fixture must take several supersteps, got $refIters")

        val failing = Some(CsrCheckpoint(dir, "run", every = 1, store = new FailingPointerStore(3)))
        val e = intercept[java.io.IOException] {
          GatherScatter.pageRankConverged(g, 0.3, 1e-5, cp = failing)
        }
        assert(e.getMessage.contains("pointer write 3"))
        val latest = new String(Files.readAllBytes(Paths.get(dir, "run", "latest.json")))
        assert(latest.contains(""""iteration":2,"""), latest)
        assert(partFiles(s"$dir/run/iter=2/state") === (0 until 8).map(p => f"part-$p%05d").toSet)

        val (resR, iters) = GatherScatter.pageRankConverged(g, 0.3, 1e-5,
          cp = Some(CsrCheckpoint(dir, "run", every = 1)))
        val res = ranksMap(resR)
        resR.unpersist(false)
        assert(iters === refIters)
        assert(res.keySet === ref.keySet)
        for ((k, v) <- ref) assert(res(k) == v, s"vertex $k not bit-identical")
      } finally {
        g.unpersist()
        fixture.unpersistAll()
      }
    }
  }

  test("a failed pointer commit fails a Column run; the committed state resumes to the same result") {
    withTempDir("graft-commit") { dir =>
      def components(r: RunResult) = {
        val m = r.state.select("id", "component").collect()
          .map(x => x.getLong(0) -> x.getLong(1)).toMap
        r.state.unpersist()
        m
      }
      try {
        val ref = ConnectedComponents.run(fixture)
        val refIters = ref.iterations
        val want = components(ref)
        assert(refIters > 4, s"fixture must take several supersteps, got $refIters")

        val failing = Some(CheckpointConfig(dir, "col", every = 1, store = new FailingPointerStore(3)))
        val e = intercept[java.io.IOException](ConnectedComponents.run(fixture, failing))
        assert(e.getMessage.contains("pointer write 3"))
        val latest = new String(Files.readAllBytes(Paths.get(dir, "col", "latest.json")))
        assert(latest.contains(""""iteration":2,"""), latest)

        val res = ConnectedComponents.run(fixture, Some(CheckpointConfig(dir, "col", every = 1)))
        assert(res.iterations === refIters)
        assert(res.converged)
        assert(components(res) === want)
      } finally fixture.unpersistAll()
    }
  }
}
