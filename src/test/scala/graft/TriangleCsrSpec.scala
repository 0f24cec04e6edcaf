package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Edge, LinkGraph, Transcripts}
import graft.engine.TriangleCsr
import graft.algos.TriangleCount

class TriangleCsrSpec extends AnyFunSuite {
  lazy val s = SparkTestBase.spark

  private def counts(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The bench's deterministic triangle-rich community fixture
    * (TriangleCsr.communityEdges), as a LinkGraph. */
  private def blockGraph(nBlocks: Int, blockSize: Int): LinkGraph =
    LinkGraph(TriangleCsr.communityEdges(s, nBlocks.toLong, blockSize), 4)

  test("brute-force literal: two shared triangles and an isolated edge") {
    // triangles {1,2,3} and {2,3,4}; 5-6 closes nothing; duplicate and
    // reversed edges must not double-count
    val es = Seq(
      Edge(1, 2, 1.0), Edge(2, 3, 1.0), Edge(3, 1, 1.0),
      Edge(4, 2, 1.0), Edge(3, 4, 1.0),
      Edge(2, 1, 1.0), // reverse duplicate of 1-2
      Edge(5, 6, 1.0), Edge(6, 6, 1.0)) // self-loop dropped by toDag
    val g = LinkGraph.fromSeq(s, es, 4)
    val got = counts(TriangleCsr.perVertex(g, 4))
    // attribution: largest original id of each triangle
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 0L, 6L -> 0L))
    g.unpersistAll()
  }

  test("CSR triangles == column engine (reference graph, transcripts, hub, community)") {
    val cases = Seq(
      "test.bin.mtx" -> LinkGraph(
        graft.sources.MtxReader.read(s, SparkTestBase.refData("test.bin.mtx")), 4),
      "transcripts" -> Transcripts.toGraph(Transcripts.synthesize(s, 150)),
      // planted hub inside a triangle-rich neighborhood: the hub's oriented
      // adjacency must stay O(sqrt E) and its remote-adjacency replies must
      // agree with the column engine
      "hub" -> LinkGraph.fromSeq(s,
        (2L to 400L).map(i => Edge(1L, i, 1.0)) ++
          (2L until 400L).map(i => Edge(i, i + 1, 1.0)) ++
          Seq(Edge(700L, 701L, 1.0)), 4),
      "community" -> blockGraph(12, 14)
    )
    for ((name, g) <- cases) {
      val want = counts(TriangleCount.perVertex(g).select("id", "triangles"))
      val got = counts(TriangleCsr.perVertex(g, 4))
      assert(got === want, s"case $name")
      assert(got.values.sum === TriangleCount.total(g), s"case $name total")
      g.unpersistAll()
    }
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("partition-count invariance: 3, 4 and 9 partitions agree") {
    val g = blockGraph(9, 12)
    val base = counts(TriangleCsr.perVertex(g, 3))
    for (n <- Seq(4, 9))
      assert(counts(TriangleCsr.perVertex(g, n)) === base, s"numPartitions=$n")
    g.unpersistAll()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
