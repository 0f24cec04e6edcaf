package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.storage.{RDDInfo, StorageLevel}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Edge, LinkGraph}
import graft.engine.{CheckpointConfig, DeltaPrCsr, GatherScatter, ToposortCsr, VectorSuperstep}
import graft.engine.GatherScatter.{PrGraph, RankBlock}
import SparkTestBase.{jobsAndStagesOf, jobsOf, withTempDir}

/** The cost side of the CSR superstep loop: a long run's lineage stays
  * bounded and its lineage roots stay persisted; an uncheckpointed loop on a
  * hubless graph runs one Spark job per 4 supersteps plus the result's, and
  * a convergence loop that stops inside a batch returns what a run landing
  * every superstep returns; and a run leaves persisted only its result. */
class CsrLoopSpec extends AnyFunSuite {
  lazy val s = SparkTestBase.spark

  /** RDDs reachable from `roots` through `dependencies`; a checkpointed
    * RDD's dependencies end at its checkpoint. */
  private def reachable(roots: RDD[_]*): Seq[RDD[_]] = {
    val seen = mutable.LinkedHashMap.empty[Int, RDD[_]]
    var todo = roots.toList
    while (todo.nonEmpty) {
      val r = todo.head
      todo = todo.tail
      if (!seen.contains(r.id)) {
        seen(r.id) = r
        todo = r.dependencies.map(_.rdd).toList ::: todo
      }
    }
    seen.values.toSeq
  }

  private def lineage(roots: RDD[_]*): Int = reachable(roots: _*).size

  /** The locally checkpointed RDDs reachable from `r` that are no longer
    * persisted: their blocks are the lineage of everything after them, so
    * losing one makes `r` unrecoverable. */
  private def freedRoots(r: RDD[_]): Seq[Int] =
    reachable(r).filter(x => x.isCheckpointed && x.getStorageLevel == StorageLevel.NONE).map(_.id)

  /** The graph's own RDDs plus at most 16 supersteps (the truncation
    * cadence) of at most 8 RDDs each, whatever the superstep count. */
  private def bound(g: PrGraph): Int = lineage(g.csr, g.meta) + 16 * 8

  private def chain(n: Int): Seq[Edge] = (0 until n - 1).map(i => Edge(i.toLong, i + 1L, 1.0))

  private def withGraph[A](es: Seq[Edge], undirected: Boolean = false, keyShift: Int = 0,
                           hotDegree: Long = 0L, weighted: Boolean = false)
                          (f: PrGraph => A): A = {
    val lg = LinkGraph.fromSeq(s, es, 4)
    val g = GatherScatter.build(if (undirected) lg.undirected else lg, 4,
      hotDegree = hotDegree, keyShift = keyShift, weighted = weighted)
    try f(g) finally { g.unpersist(); lg.unpersistAll() }
  }

  /** 10 chains of 13 vertices: several supersteps to converge, and no
    * vertex reaches the hub threshold. */
  private val chains = (0 until 10).flatMap(c =>
    (0 until 12).map(i => Edge(10000L + c * 100 + i, 10000L + c * 100 + i + 1, 1.0)))

  /** [[chains]] plus vertex 1 fanning out to 2000 spokes: built with
    * `hotDegree = 100`, vertex 1 is the one hub. */
  private val hubAndChains = (2L to 2001L).map(d => Edge(1L, d, 1.0)) ++ chains

  /** 4 directed 3-cycles: every PageRank moves by 0.21·0.7^k at superstep
    * k, so each superstep's ranks differ in their bits from the last. */
  private val cycles = (0 until 4).flatMap { c =>
    val b = c * 10L
    Seq(Edge(b, b + 1, 1.0), Edge(b + 1, b + 2, 1.0), Edge(b + 2, b, 1.0))
  }

  private val isChainHead: Long => Boolean = id => id >= 10000L && id % 100 == 0

  test("toposort on 48- and 96-vertex chains keeps a lineage bounded by 16 supersteps") {
    for (n <- Seq(48, 96)) withGraph(chain(n)) { g =>
      val (r, iters) = ToposortCsr.run(g)
      try {
        assert(iters >= n - 1, s"a $n-vertex chain peels one vertex per superstep, ran $iters")
        val orders = r.flatMap(b => b.ids.zip(b.pr)).collect().toMap
        assert(orders === (0 until n).map(i => i.toLong -> i.toDouble).toMap)
        assert(lineage(r) <= bound(g),
          s"$n-vertex chain: ${lineage(r)} RDDs reachable after $iters supersteps")
        assert(freedRoots(r).isEmpty, s"$n-vertex chain: freed lineage roots ${freedRoots(r)}")
      } finally r.unpersist(false)
    }
  }

  test("PageRank runs past 32 supersteps keep a lineage bounded by 16 supersteps") {
    // tol 1e-7 takes about 40 supersteps
    withGraph(cycles) { g =>
      def check(name: String, r: RDD[RankBlock], iters: Int): Unit =
        try {
          assert(iters > 32, s"$name: the fixture must need more than 32 supersteps, ran $iters")
          assert(lineage(r) <= bound(g),
            s"$name: ${lineage(r)} RDDs reachable after $iters supersteps")
          assert(freedRoots(r).isEmpty, s"$name: freed lineage roots ${freedRoots(r)}")
        } finally r.unpersist(false)
      val (r, iters) = GatherScatter.pageRankConverged(g, 0.3, 1e-7)
      check("pageRankConverged", r, iters)
      check("pageRank", GatherScatter.pageRank(g, 0.3, 40), 40)
      check("personalizedPageRank",
        GatherScatter.personalizedPageRank(g, _ % 10 == 0, 0.3, 40), 40)
    }
  }

  test("uncheckpointed hubless loops run at most ceil(supersteps / 4) + 1 jobs") {
    def check(name: String, run: => (RDD[RankBlock], Int)): Int = {
      val ((r, iters), jobs) = jobsOf(run)
      r.unpersist(false)
      assert(iters > 2, s"$name: the fixture must take several supersteps, ran $iters")
      // one per 4 supersteps, the first of which also computes the initial
      // state, and the result's
      assert(jobs <= (iters + 3) / 4 + 1, s"$name: $jobs jobs over $iters supersteps")
      iters
    }
    withGraph(chains) { g =>
      assert(g.hotIds.isEmpty)
      check("pageRankConverged", GatherScatter.pageRankConverged(g, 0.3, 1e-5))
      check("DeltaPrCsr.run", DeltaPrCsr.run(g))
      check("ToposortCsr.run", ToposortCsr.run(g))
    }
    withGraph(chains, undirected = true) { g =>
      assert(g.hotIds.isEmpty)
      // the head's label needs 12 supersteps to reach the tail and the 13th
      // changes nothing: the stop falls inside the batch 13-16
      val ccIters = check("connectedComponents", GatherScatter.connectedComponents(g))
      assert(ccIters % 4 != 0, s"connectedComponents must stop mid-batch, ran $ccIters")
      check("labelPropagation", GatherScatter.labelPropagation(g, 20))
      // a budget that is not a multiple of 4 lands on its last superstep
      check("labelPropagation(6)", GatherScatter.labelPropagation(g, 6))
    }
  }

  test("a batched run equals a run that lands every superstep, on hubless and hub layouts") {
    def values(r: RDD[RankBlock]): Map[Long, Double] =
      try r.flatMap(b => b.ids.zip(b.pr)).collect().toMap finally r.unpersist(false)
    withTempDir("graft-batch") { dir =>
      var runs = 0
      // `run(None)` lands every 4th superstep; `CheckpointConfig(every = 1)`
      // lands every superstep, as a run that reads each count in its own job
      def check(name: String, run: Option[CheckpointConfig] => (RDD[RankBlock], Int)): Int = {
        runs += 1
        val (batched, iters) = run(None)
        val (landed, landedIters) = run(Some(CheckpointConfig(dir, s"run-$runs", every = 1)))
        assert(iters === landedIters, s"$name: supersteps")
        val (b, l) = (values(batched), values(landed))
        assert(b.keySet === l.keySet, name)
        // bit-identical: == on the doubles, no tolerance
        for ((k, v) <- l) assert(b(k) == v, s"$name: vertex $k: ${b(k)} batched, $v landed")
        iters
      }
      for ((es, hotDegree) <- Seq(chains -> 0L, hubAndChains -> 100L)) {
        val kind = if (hotDegree > 0) "hub" else "hubless"
        withGraph(es, hotDegree = hotDegree) { g =>
          assert(g.hotIds.nonEmpty === hotDegree > 0)
          check(s"$kind pageRankConverged", cp => GatherScatter.pageRankConverged(g, 0.3, 1e-5, cp = cp))
        }
        withGraph(es, undirected = true, hotDegree = hotDegree) { g =>
          val ccIters = check(s"$kind connectedComponents",
            cp => GatherScatter.connectedComponents(g, cp = cp))
          assert(ccIters % 4 != 0, s"$kind connectedComponents must stop mid-batch, ran $ccIters")
          check(s"$kind labelPropagation", cp => GatherScatter.labelPropagation(g, 20, cp))
          check(s"$kind labelPropagation(6)", cp => GatherScatter.labelPropagation(g, 6, cp))
        }
      }
      // a mid-batch stop past the first truncation mark whose overshoot
      // states differ from the stop's in their bits
      withGraph(cycles) { g =>
        val iters = check("cycles pageRankConverged",
          cp => GatherScatter.pageRankConverged(g, 0.3, 1e-5, cp = cp))
        assert(iters > 16 && iters % 4 != 0, s"cycles pageRankConverged must stop mid-batch, ran $iters")
      }
    }
  }

  test("a stop inside the batch that ends on a truncation mark keeps the earlier lineage root") {
    // a 47-vertex chain peels one vertex per superstep and stops at 47; the
    // batch 45-48 computes the marked superstep 48, which the stop discards
    withGraph(chain(47)) { g =>
      // the RDDs of the newest job's result stage, as the scheduler saw
      // them when the job started: the run's last job is its result job
      @volatile var resultStage = Seq.empty[RDDInfo]
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (!Option(e.properties).exists(_.getProperty("graft.marker") != null))
            resultStage = e.stageInfos.maxBy(_.stageId).rddInfos
      }
      s.sparkContext.addSparkListener(l)
      val before = s.sparkContext.getPersistentRDDs.keySet.toSet
      val ((r, iters), _) = try jobsOf(ToposortCsr.run(g)) finally s.sparkContext.removeSparkListener(l)
      val after = s.sparkContext.getPersistentRDDs.keySet.toSet
      try {
        assert(iters % 16 != 0 && (iters + 3) / 4 * 4 % 16 == 0,
          s"the stop must fall inside a batch ending on a mark, ran $iters")
        // the stop state reads superstep 32 as its lineage root, so the
        // result job must find it still persisted
        val marks = resultStage.filter(_.name == "LocalCheckpointRDD").map(_.id).toSet
        val roots = resultStage.filter(_.parentIds.exists(marks))
        assert(roots.nonEmpty, s"no lineage root in the result job: ${resultStage.map(_.name)}")
        for (x <- roots) assert(x.storageLevel != StorageLevel.NONE, s"lineage root ${x.id} was freed")
        val orders = r.flatMap(b => b.ids.zip(b.pr)).collect().toMap
        assert(orders === (0 until 47).map(i => i.toLong -> i.toDouble).toMap)
        assert(lineage(r) <= bound(g), s"${lineage(r)} RDDs reachable after $iters supersteps")
        assert(freedRoots(r).isEmpty, s"freed lineage roots ${freedRoots(r)}")
        assert(after === before + r.id, "persisted RDDs other than the result")
      } finally r.unpersist(false)
    }
  }

  test("fixed-budget loops chain four supersteps per job") {
    withGraph(chains) { g =>
      assert(g.hotIds.isEmpty)
      // barriers at supersteps 4 and 8; the result's job computes 9 and 10
      val (pr, prJobs) = jobsOf(GatherScatter.pageRank(g, 0.3, 10))
      pr.unpersist(false)
      assert(prJobs === 3, "hubless pageRank(10)")
      val (ppr, pprJobs) = jobsOf(GatherScatter.personalizedPageRank(g, isChainHead, 0.3, 10))
      ppr.unpersist(false)
      assert(pprJobs <= 3, "hubless personalizedPageRank(10)")
    }
    withGraph(hubAndChains, hotDegree = 100) { g =>
      assert(g.hotIds.toSeq === Seq(1L))
      // plus one hub-mirror collect per superstep
      val (pr, jobs) = jobsOf(GatherScatter.pageRank(g, 0.3, 10))
      pr.unpersist(false)
      assert(jobs <= 10 + 4, s"hub pageRank(10): $jobs jobs")
    }
  }

  test("every CSR run leaves persisted only its result") {
    def check(name: String, run: => RDD[_]): Unit = {
      val before = s.sparkContext.getPersistentRDDs.keySet.toSet
      val r = run
      val after = s.sparkContext.getPersistentRDDs.keySet.toSet
      r.unpersist(false)
      assert(after === before + r.id, s"$name: persisted RDDs other than the result")
    }
    for ((es, hotDegree) <- Seq(chains -> 0L, hubAndChains -> 100L)) {
      val kind = if (hotDegree > 0) "hub" else "hubless"
      withGraph(es, hotDegree = hotDegree) { g =>
        check(s"$kind pageRank", GatherScatter.pageRank(g, 0.3, 10))
        check(s"$kind personalizedPageRank",
          GatherScatter.personalizedPageRank(g, isChainHead, 0.3, 10))
        check(s"$kind pageRankConverged", GatherScatter.pageRankConverged(g, 0.3, 1e-5)._1)
        check(s"$kind DeltaPrCsr.run", DeltaPrCsr.run(g)._1)
        check(s"$kind ToposortCsr.run", ToposortCsr.run(g)._1)
      }
      withGraph(es, undirected = true, hotDegree = hotDegree, weighted = true) { g =>
        check(s"$kind connectedComponents", GatherScatter.connectedComponents(g)._1)
        check(s"$kind labelPropagation", GatherScatter.labelPropagation(g, 5)._1)
        check(s"$kind VectorSuperstep.sgd",
          VectorSuperstep.sgd(g, k = 2, iterations = 10, init = (id, d) => 0.1 * (d + 1)))
      }
    }
  }

  test("a CSR run whose superstep job fails frees what it persisted") {
    // a layout with a cut that claims none fails its first superstep job
    var leaks = Seq.empty[String]
    for (undirected <- Seq(false, true)) withGraph(chains, undirected) { g =>
      assert(g.cut > 0L)
      val bad = g.copy(cut = 0L)
      val runs: Seq[(String, () => Any)] =
        if (undirected) Seq("connectedComponents" -> (() => GatherScatter.connectedComponents(bad)))
        else Seq(
          "pageRankConverged" -> (() => GatherScatter.pageRankConverged(bad, 0.3, 1e-5)),
          "personalizedPageRank" -> (() => GatherScatter.personalizedPageRank(bad, isChainHead, 0.3, 10)))
      for ((name, run) <- runs) {
        val before = s.sparkContext.getPersistentRDDs.keySet.toSet
        val e = intercept[org.apache.spark.SparkException](run())
        assert(e.getMessage.contains("cut-free"), s"$name: ${e.getMessage}")
        val left = s.sparkContext.getPersistentRDDs.keySet.toSet -- before
        left.foreach(id => s.sparkContext.getPersistentRDDs(id).unpersist(false))
        if (left.nonEmpty) leaks :+= s"$name left ${left.size} persisted RDDs"
      }
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
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
