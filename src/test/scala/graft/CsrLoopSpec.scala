package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Edge, LinkGraph}
import graft.engine.{DeltaPrCsr, GatherScatter, ToposortCsr}
import graft.engine.GatherScatter.{PrGraph, RankBlock}
import SparkTestBase.{jobsAndStagesOf, jobsOf}

/** The cost side of the CSR superstep loop: a long run's lineage stays
  * bounded, and an uncheckpointed run on a hubless graph runs one Spark job
  * per superstep plus the initial state's and the result's. */
class CsrLoopSpec extends AnyFunSuite {
  lazy val s = SparkTestBase.spark

  /** RDDs reachable from `roots` through `dependencies`; a checkpointed
    * RDD's dependencies end at its checkpoint. */
  private def lineage(roots: RDD[_]*): Int = {
    val seen = mutable.Set.empty[Int]
    var todo = roots.toList
    while (todo.nonEmpty) {
      val r = todo.head
      todo = todo.tail
      if (seen.add(r.id)) todo = r.dependencies.map(_.rdd).toList ::: todo
    }
    seen.size
  }

  /** The graph's own RDDs plus at most 16 supersteps (the truncation
    * cadence) of at most 8 RDDs each, whatever the superstep count. */
  private def bound(g: PrGraph): Int = lineage(g.csr, g.meta) + 16 * 8

  private def chain(n: Int): Seq[Edge] = (0 until n - 1).map(i => Edge(i.toLong, i + 1L, 1.0))

  private def withGraph[A](es: Seq[Edge], undirected: Boolean = false, keyShift: Int = 0)
                          (f: PrGraph => A): A = {
    val lg = LinkGraph.fromSeq(s, es, 4)
    val g = GatherScatter.build(if (undirected) lg.undirected else lg, 4, keyShift = keyShift)
    try f(g) finally { g.unpersist(); lg.unpersistAll() }
  }

  test("toposort on 48- and 96-vertex chains keeps a lineage bounded by 16 supersteps") {
    for (n <- Seq(48, 96)) withGraph(chain(n)) { g =>
      val (r, iters) = ToposortCsr.run(g)
      try {
        assert(iters >= n - 1, s"a $n-vertex chain peels one vertex per superstep, ran $iters")
        val orders = r.flatMap(b => b.ids.zip(b.pr)).collect().toMap
        assert(orders === (0 until n).map(i => i.toLong -> i.toDouble).toMap)
        assert(lineage(r) <= bound(g),
          s"$n-vertex chain: ${lineage(r)} RDDs reachable after $iters supersteps")
      } finally r.unpersist(false)
    }
  }

  test("pageRankConverged past 32 supersteps keeps a lineage bounded by 16 supersteps") {
    // 3-cycles: every rank moves by 0.21·0.7^k at superstep k, so tol 1e-7
    // takes about 40 supersteps
    val cycles = (0 until 4).flatMap { c =>
      val b = c * 10L
      Seq(Edge(b, b + 1, 1.0), Edge(b + 1, b + 2, 1.0), Edge(b + 2, b, 1.0))
    }
    withGraph(cycles) { g =>
      val (r, iters) = GatherScatter.pageRankConverged(g, 0.3, 1e-7)
      try {
        assert(iters > 32, s"the fixture must need more than 32 supersteps, ran $iters")
        assert(lineage(r) <= bound(g), s"${lineage(r)} RDDs reachable after $iters supersteps")
      } finally r.unpersist(false)
    }
  }

  test("uncheckpointed hubless loops run at most supersteps + 2 jobs") {
    // chains: several supersteps; no vertex reaches the hub threshold
    val es = (0 until 10).flatMap(c =>
      (0 until 12).map(i => Edge(10000L + c * 100 + i, 10000L + c * 100 + i + 1, 1.0)))
    def check(name: String, run: => (RDD[RankBlock], Int)): Unit = {
      val ((r, iters), jobs) = jobsOf(run)
      r.unpersist(false)
      assert(iters > 2, s"$name: the fixture must take several supersteps, ran $iters")
      // the initial state's count, one per superstep, the result's count
      assert(jobs <= iters + 2, s"$name: $jobs jobs over $iters supersteps")
    }
    withGraph(es) { g =>
      assert(g.hotIds.isEmpty)
      check("pageRankConverged", GatherScatter.pageRankConverged(g, 0.3, 1e-5))
      check("DeltaPrCsr.run", DeltaPrCsr.run(g))
      check("ToposortCsr.run", ToposortCsr.run(g))
    }
    withGraph(es, undirected = true) { g =>
      assert(g.hotIds.isEmpty)
      check("connectedComponents", GatherScatter.connectedComponents(g))
      check("labelPropagation", GatherScatter.labelPropagation(g, 20))
    }
  }

  test("a cut-free pageRankConverged runs one stage per job") {
    // chains inside conversation-shaped ids (c << 20 | i): keyShift 20
    // keeps every chain in one partition, so the layout has no cut
    val es = (0 until 10).flatMap(c =>
      (0 until 12).map(i => Edge((c.toLong << 20) + i, (c.toLong << 20) + i + 1, 1.0)))
    withGraph(es, keyShift = 20) { g =>
      assert(g.cut === 0L)
      val ((r, iters), jobs, stages) =
        jobsAndStagesOf(GatherScatter.pageRankConverged(g, 0.3, 1e-5))
      r.unpersist(false)
      assert(iters > 2, s"the fixture must take several supersteps, ran $iters")
      assert(stages === jobs, s"$stages stages over $jobs jobs")
      // the same layout through the shuffle: a second stage per superstep
      val ((sr, _), sJobs, sStages) =
        jobsAndStagesOf(GatherScatter.pageRankConverged(g.copy(cut = -1L), 0.3, 1e-5))
      sr.unpersist(false)
      assert(sJobs === jobs && sStages > sJobs, s"shuffle path: $sStages stages over $sJobs jobs")
    }
  }
}
