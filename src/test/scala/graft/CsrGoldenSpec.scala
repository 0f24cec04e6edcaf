package graft

import org.apache.spark.rdd.RDD
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Edge, LinkGraph, Transcripts}
import graft.engine.{DeltaPrCsr, GatherScatter, ToposortCsr}
import graft.engine.GatherScatter.{PrGraph, RankBlock}
import SparkTestBase.jobsOf

/** Pins every scalar CSR kernel bit for bit: per call and layout, the
  * superstep count and a digest of the result's raw double bits over the
  * id-sorted (id, value) pairs. The literals were recorded from the engine
  * and must hold across refactors of the superstep plumbing; the Column
  * engine parity tests elsewhere use tolerances and cannot see an ulp.
  * Each call's Spark job count is reported, not asserted. */
class CsrGoldenSpec extends AnyFunSuite {
  lazy val s = SparkTestBase.spark

  /** First 8 bytes of the SHA-256 of (id, doubleToRawLongBits(value)) over
    * the result's pairs in id order, in hex. */
  private def digest(r: RDD[RankBlock]): String = {
    val pairs = try r.flatMap(b => b.ids.zip(b.pr)).collect().sortBy(_._1)
      finally r.unpersist(false)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(16)
    for ((id, v) <- pairs) {
      buf.clear()
      md.update(buf.putLong(id).putLong(java.lang.Double.doubleToRawLongBits(v)).array())
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** 10 chains of 13 vertices with weights 1, 1.5 and 2: no hub. */
  private val chains = (0 until 10).flatMap(c => (0 until 12).map { i =>
    val v = 10000L + c * 100 + i
    Edge(v, v + 1, 1.0 + (i % 3) * 0.5)
  })

  /** [[chains]] plus vertex 1 fanning out to 2000 spokes (the one hub at
    * `hotDegree = 100`), the path 0 → 9001 → 1 that moves the hub's value
    * after superstep 0, spoke 2 leading into the first chain, and a 3-cycle
    * with a tail, which toposort leaves at −1. */
  private val hubFixture = (2L to 2001L).map(d => Edge(1L, d, 1.0 + d % 3)) ++
    Seq(Edge(0L, 9001L, 2.0), Edge(9001L, 1L, 0.5), Edge(2L, 10000L, 1.5),
      Edge(500L, 501L, 1.0), Edge(501L, 502L, 1.0), Edge(502L, 500L, 1.0),
      Edge(502L, 503L, 1.0)) ++ chains

  /** (layout, call) -> (supersteps, digest). */
  private val golden: Map[(String, String), (Int, String)] = Map(
    ("chains", "pageRank(10)") -> (10, "7a3c14926588caba"),
    ("chains", "personalizedPageRank(10)") -> (10, "e7dd2289ec5b3bcf"),
    ("chains", "pageRankConverged") -> (13, "e62a93b68dbded7c"),
    ("chains", "connectedComponents") -> (13, "6076305b2e30c040"),
    ("chains", "bfs") -> (13, "f50893c1ce4fa32d"),
    ("chains", "sssp") -> (13, "6a377145a95800a1"),
    ("chains", "labelPropagation(5)") -> (5, "172da1116730afb7"),
    ("chains", "DeltaPrCsr.run") -> (13, "508b2811a527238b"),
    ("chains", "ToposortCsr.run") -> (13, "ef0ba9fa450ab353"),
    ("hub", "pageRank(10)") -> (10, "73adf2def87de83e"),
    ("hub", "personalizedPageRank(10)") -> (10, "7ea9db0360469c11"),
    ("hub", "pageRankConverged") -> (18, "761bdc7dd334cbdc"),
    ("hub", "connectedComponents") -> (17, "81385e9a32f39971"),
    ("hub", "bfs") -> (17, "15aa02ee69fd7f95"),
    ("hub", "sssp") -> (17, "983d3c559dc841a6"),
    ("hub", "labelPropagation(5)") -> (5, "2243a86cc3aa4f6b"),
    ("hub", "DeltaPrCsr.run") -> (33, "6052658c4ef6fe56"),
    ("hub", "ToposortCsr.run") -> (17, "e696797cb8253247"),
    ("transcripts", "pageRank(10)") -> (10, "b318fd4b428b375c"),
    ("transcripts", "personalizedPageRank(10)") -> (10, "ca858d2d3c132803"),
    ("transcripts", "pageRankConverged") -> (12, "d404f90c42ede0e7"),
    ("transcripts", "connectedComponents") -> (12, "dfa5665ad4906a1d"),
    ("transcripts", "bfs") -> (6, "98d278ce42ef89c7"),
    ("transcripts", "sssp") -> (6, "98d278ce42ef89c7"),
    ("transcripts", "labelPropagation(5)") -> (5, "cd8e2eb9ad8d51c2"),
    ("transcripts", "DeltaPrCsr.run") -> (12, "ecae7707c884ab89"),
    ("transcripts", "ToposortCsr.run") -> (12, "273fab292e5d1fc7"))

  /** The nine scalar calls on a directed weighted build `g` and an
    * undirected build `gu`; `source` seeds BFS and SSSP. */
  private def calls(g: PrGraph, gu: PrGraph, source: Long, isSource: Long => Boolean)
      : Seq[(String, () => (RDD[RankBlock], Int))] = Seq(
    "pageRank(10)" -> (() => (GatherScatter.pageRank(g, 0.3, 10), 10)),
    "personalizedPageRank(10)" -> (() =>
      (GatherScatter.personalizedPageRank(g, isSource, 0.3, 10), 10)),
    "pageRankConverged" -> (() => GatherScatter.pageRankConverged(g, 0.3, 1e-5)),
    "connectedComponents" -> (() => GatherScatter.connectedComponents(gu)),
    "bfs" -> (() => GatherScatter.bfs(g, source)),
    "sssp" -> (() => GatherScatter.sssp(g, source)),
    "labelPropagation(5)" -> (() => GatherScatter.labelPropagation(gu, 5)),
    "DeltaPrCsr.run" -> (() => DeltaPrCsr.run(g)),
    "ToposortCsr.run" -> (() => ToposortCsr.run(g)))

  private def check(layout: String, lg: LinkGraph, hotDegree: Long, keyShift: Int,
                    source: Long, isSource: Long => Boolean): Unit = {
    val und = lg.undirected
    val g = GatherScatter.build(lg, 4, hotDegree = hotDegree, keyShift = keyShift, weighted = true)
    val gu = GatherScatter.build(und, 4, hotDegree = hotDegree, keyShift = keyShift)
    try {
      assert(g.hotIds.nonEmpty === hotDegree > 0 && gu.hotIds.nonEmpty === hotDegree > 0)
      if (keyShift > 0) assert(g.cut === 0L && gu.cut === 0L)
      val got = calls(g, gu, source, isSource).map { case (name, run) =>
        val ((r, iters), jobs) = jobsOf(run())
        info(s"$layout $name: $iters supersteps, $jobs jobs")
        (layout, name) -> (iters, digest(r))
      }
      val wrong = got.filter { case (k, v) => !golden.get(k).contains(v) }
      assert(wrong.isEmpty, wrong.map { case ((l, c), (i, d)) =>
        s"""("$l", "$c") -> ($i, "$d"),""" }.mkString("\n", "\n", ""))
    } finally { g.unpersist(); gu.unpersist(); und.unpersistAll(); lg.unpersistAll() }
  }

  test("scalar CSR kernels on hubless chains equal their recorded bits and supersteps") {
    check("chains", LinkGraph.fromSeq(s, chains, 4), 0L, 0, 10000L, _ % 100 == 0)
  }

  test("scalar CSR kernels on a hub layout with a cycle equal their recorded bits and supersteps") {
    check("hub", LinkGraph.fromSeq(s, hubFixture, 4), 100L, 0, 0L, _ % 100 == 0)
  }

  test("scalar CSR kernels on cut-free transcripts equal their recorded bits and supersteps") {
    val lg = Transcripts.toGraph(Transcripts.synthesize(s, 300))
    // convOrd << 20 | turn ids: keyShift 20 keeps each conversation whole
    check("transcripts", lg, 0L, 20, lg.edges.agg(Map("src" -> "min")).head().getLong(0),
      id => (id >>> 20) % 3 == 0)
  }
}
