package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.LinkGraph
import graft.sources.MtxReader
import graft.algos.{Bfs, PageRank, Sssp, TriangleCount}

/**
 * Reference-fixture golden parity in ONE place: PageRank, BFS, SSSP and
 * triangle counting on BOTH bundled GraphMat graphs (`data/test.bin.mtx`,
 * `data/2_10_upper_triangle.bin.mtx` — read through MtxReader, including the
 * 15069/15070 header quirk), each checked against an independent sequential
 * oracle implementing the reference semantics (`test/test_bfs.cpp:97-258`,
 * `src/PageRank.cpp`, `src/SSSP.cpp`, `src/TriangleCounting.cpp`).
 */
class GoldenParitySpec extends AnyFunSuite {
  lazy val s = SparkTestBase.spark

  private case class Fixture(graph: LinkGraph, edges: Seq[(Long, Long, Double)])

  /** Read inside a test body, so a missing graph cancels its own tests
    * instead of aborting the suite at construction. */
  private def load(name: String): Fixture = {
    val df = MtxReader.read(s, SparkTestBase.refData(name))
    val es = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    Fixture(LinkGraph(df, 8), es)
  }

  // ---- sequential oracles (reference semantics, driver-local) ----

  /** Canonical level-order BFS over out-edges; unreached absent. */
  private def bfsProper(adj: Map[Long, Seq[Long]], src: Long): Map[Long, Long] = {
    val depth = scala.collection.mutable.Map(src -> 0L)
    var level = Seq(src)
    var d = 0L
    while (level.nonEmpty) {
      d += 1
      val next = level.flatMap(v => adj.getOrElse(v, Nil))
        .distinct.filterNot(depth.contains)
      next.foreach(v => depth(v) = d)
      level = next
    }
    depth.toMap
  }

  /** Dijkstra over out-edges with the file's weights; unreachable absent. */
  private def localDijkstra(es: Seq[(Long, Long, Double)], src: Long): Map[Long, Double] = {
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(e => (e._2, e._3)) }
    val dist = scala.collection.mutable.Map(src -> 0.0)
    val done = scala.collection.mutable.Set[Long]()
    val pq = scala.collection.mutable.PriorityQueue[(Double, Long)]()(
      Ordering.by[(Double, Long), Double](_._1).reverse)
    pq.enqueue((0.0, src))
    while (pq.nonEmpty) {
      val (d, v) = pq.dequeue()
      if (!done(v)) {
        done += v
        for ((u, w) <- adj.getOrElse(v, Nil)) {
          if (d + w < dist.getOrElse(u, Double.PositiveInfinity)) {
            dist(u) = d + w
            pq.enqueue((d + w, u))
          }
        }
      }
    }
    dist.toMap
  }

  /** Triangles (a<b<c) over the canonicalized undirected edge set, counted
    * per LARGEST vertex (the engine's attribution) + the total. */
  private def localTriangles(es: Seq[(Long, Long, Double)]): (Map[Long, Long], Long) = {
    val canon = es.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .filter(e => e._1 != e._2).distinct
    val nbrSet = canon.toSet
    val fwd = canon.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    val per = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    var total = 0L
    for ((a, bs) <- fwd; i <- bs.indices; j <- (i + 1) until bs.length) {
      val b = bs(i); val c = bs(j)
      if (nbrSet.contains((b, c))) { per(c) += 1; total += 1 }
    }
    (per.toMap, total)
  }

  // ---- the four algorithms x both fixtures ----

  for (name <- Seq("test.bin.mtx", "2_10_upper_triangle.bin.mtx")) {
    lazy val f = load(name)

    test(s"$name: PageRank matches the reference fold allclose 1e-6") {
      val want = SparkTestBase.refPageRank(f.edges.map(e => (e._1, e._2)))
      val got = PageRank.run(f.graph).state
        .select("id", "pagerank").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.size === want.size)
      for ((v, p) <- want) assert(math.abs(got(v) - p) < 1e-6, s"vertex $v")
    }

    test(s"$name: BFS depths from vertex 1 are exact") {
      val want = bfsProper(
        f.edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }, 1L)
      val got = Bfs.run(f.graph, 1L).state
        .filter(org.apache.spark.sql.functions.col("depth") >= 0)
        .select("id", "depth").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want)
    }

    test(s"$name: SSSP distances from vertex 1 equal Dijkstra with file weights") {
      val want = localDijkstra(f.edges, 1L)
      val got = Sssp.run(f.graph, 1L).state
        .filter(org.apache.spark.sql.functions.col("dist") =!= Double.PositiveInfinity)
        .select("id", "dist").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet === want.keySet)
      for ((v, d) <- want) assert(math.abs(got(v) - d) < 1e-9, s"vertex $v")
    }

    test(s"$name: per-vertex and total triangle counts are exact") {
      val (wantPer, wantTotal) = localTriangles(f.edges)
      val got = TriangleCount.perVertex(f.graph)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(TriangleCount.total(f.graph) === wantTotal)
      for ((v, t) <- got) assert(t === wantPer.getOrElse(v, 0L), s"vertex $v")
      assert(got.values.sum === wantTotal)
    }
  }
}
