package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.{Edge, LinkGraph, VertexOps}
import graft.sources.{TextEdgeList, VertexDump}
import SparkTestBase.withTempDir

class IoOpsSpec extends AnyFunSuite {
  lazy val s = SparkTestBase.spark
  import s.implicits._

  test("text edge-list round-trip preserves edges; header lines are tolerated") {
    withTempDir("graft-txt") { dir =>
      val es = Seq(Edge(1, 2, 1.0), Edge(2, 3, 5.0), Edge(3, 4, 2.5))
      TextEdgeList.write(es.toDF(), s"$dir/out")
      val back = TextEdgeList.read(s, s"$dir/out").as[Edge].collect().toSet
      assert(back === es.toSet)
      // loader drops a "m n nnz" header-style line gracefully
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "withheader.txt"),
        "4 4 2\n1 2\n3 4 7\n".getBytes)
      val h = TextEdgeList.read(s, s"$dir/withheader.txt").as[Edge].collect().toSet
      assert(h === Set(Edge(4L, 4L, 2.0), Edge(1, 2, 1.0), Edge(3, 4, 7.0)) ||
             h === Set(Edge(1, 2, 1.0), Edge(3, 4, 7.0)))
    }
  }

  test("vertex dump lines: sorted by id, golden '<id> <value>' shape") {
    val st = Seq((3L, 0.5), (1L, 2.0), (2L, 0.123456789), (4L, 1234.5))
      .toDF("id", "pagerank")
    val lines = VertexDump.lines(st, col("pagerank")).as[String].collect()
    assert(lines(0) === "1 2")
    assert(lines(1) === "2 0.123457")
    assert(lines(2) === "3 0.500000")
    // >= 1000 non-integral: no grouping separators in the golden format
    assert(lines(3) === "4 1234.500000")
  }

  test("vertex accessors: point set/get, setActive, mapReduce") {
    val st = Seq((1L, true, 10.0), (2L, true, 20.0)).toDF("id", "active", "x")
    val st2 = VertexOps.set(st, 2L, "x", lit(99.0))
    assert(VertexOps.get(st2, 2L).getDouble(2) === 99.0)
    assert(VertexOps.get(st2, 1L).getDouble(2) === 10.0)
    val st3 = VertexOps.setActive(VertexOps.setAllActive(st, active = false), 1L)
    assert(st3.filter(col("active")).select("id").as[Long].collect().toSeq === Seq(1L))
    assert(VertexOps.mapReduce(st, sum("x")).getDouble(0) === 30.0)
  }

  test("applyToAllEdges (P9): new weights from endpoint properties") {
    val g = LinkGraph.fromSeq(s, Seq(Edge(1, 2, 1.0), Edge(2, 3, 1.0)), 2)
    val st = Seq((1L, true, 10.0), (2L, true, 20.0), (3L, true, 30.0)).toDF("id", "active", "x")
    val out = VertexOps.applyToAllEdges(g, st, col("weight") * (col("s_x") + col("d_x")))
      .as[Edge].collect().toSet
    assert(out === Set(Edge(1, 2, 30.0), Edge(2, 3, 50.0)))
  }
}
