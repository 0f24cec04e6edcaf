package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.LinkGraph
import graft.sources.MtxReader
import graft.algos.{PageRank, TriangleCount, ConnectedComponents}
import graft.engine.{CheckpointConfig, Superstep}
import SparkTestBase.withTempDir

class MtxAndResumeSpec extends AnyFunSuite {
  lazy val s = SparkTestBase.spark

  test("mtx reader: test.bin.mtx decodes to the known 8v/13e literal") {
    val got = MtxReader.read(s, SparkTestBase.refData("test.bin.mtx")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === SparkTestBase.testGraphEdges.toSet)
  }

  test("binary writer round-trips the reference fixture byte-compatibly") {
    withTempDir("graft-mtx") { tmp =>
      val fixture = SparkTestBase.refData("test.bin.mtx")
      val orig = MtxReader.readMtx(s, fixture)
      MtxReader.write(orig.edges, s"$tmp/rt.bin.mtx", m = orig.m, n = orig.n)
      val back = MtxReader.readMtx(s, s"$tmp/rt.bin.mtx")
      assert(back.m === orig.m && back.n === orig.n)
      val a = orig.edges.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val b = back.edges.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(a === b)
      // the declared record section is reproduced byte-for-byte (collect order
      // == file order); the fixture carries a 14th record beyond its nnz=13
      // header, which the reference itself never reads (edgelist.h:269-288)
      val origBytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(fixture))
      val rtBytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/rt.bin.mtx"))
      val recLen = 13 * 12
      assert(rtBytes.length === 12 + recLen)
      assert(java.util.Arrays.equals(
        origBytes.slice(12, 12 + recLen), rtBytes.slice(12, 12 + recLen)))
    }
  }

  test("readSquare promotes a rectangular header to the square hull (ReadMTX semantics)") {
    val r = MtxReader.readSquare(s, SparkTestBase.refData("ratings7.bin.mtx"))
    assert(r.m === r.n, "square-ify must equalize dims")
    val raw = MtxReader.readMtx(s, SparkTestBase.refData("ratings7.bin.mtx"))
    assert(r.m === math.max(raw.m, raw.n))
  }

  test("mtx reader honors header nnz (2_10_upper_triangle has a trailing extra record)") {
    val e = MtxReader.read(s, SparkTestBase.refData("2_10_upper_triangle.bin.mtx"))
    assert(e.count() === 15069L)
    // DAG form: all src < dst, ids in 1..1024
    import org.apache.spark.sql.functions._
    assert(e.filter(col("src") >= col("dst")).count() === 0)
    assert(EdgeOpsDims(e) === (1023L, 1024L) || EdgeOpsDims(e)._2 <= 1024L)
  }
  private def EdgeOpsDims(df: org.apache.spark.sql.DataFrame) = graft.core.EdgeOps.dimensions(df)

  test("triangle count on the 1024-vertex reference DAG matches an independent local count") {
    val edf = MtxReader.read(s, SparkTestBase.refData("2_10_upper_triangle.bin.mtx"))
    val g = LinkGraph(edf, 8)
    val spark_total = TriangleCount.total(g)
    // independent oracle: local bitset intersection over collected edges
    val edges = edf.collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt))
    val nbrs = Array.fill(1025)(new java.util.BitSet(1025))
    edges.foreach { case (a, b) => nbrs(a).set(b) }
    var local = 0L
    for ((a, b) <- edges) {
      val inter = nbrs(a).clone().asInstanceOf[java.util.BitSet]
      inter.and(nbrs(b))
      local += inter.cardinality()
    }
    assert(spark_total === local)
    assert(spark_total > 0)
  }

  test("pagerank on 1024-vertex reference graph matches the reference fold allclose 1e-6") {
    val edf = MtxReader.read(s, SparkTestBase.refData("2_10_upper_triangle.bin.mtx"))
    val es = edf.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = SparkTestBase.refPageRank(es)
    val got = PageRank.run(LinkGraph(edf, 8)).state
      .select("id", "pagerank").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size === want.size)
    for ((v, p) <- want) assert(math.abs(got(v) - p) < 1e-6, s"vertex $v")
  }

  test("checkpoint/resume: interrupted CC resumes to the identical fixpoint") {
    withTempDir("graft-cc-cp") { dir =>
      val es = (1L until 14L).map(i => (i, i + 1)) // path: slow HashMin convergence
      val g = LinkGraph.fromSeq(s, es.map { case (a, b) => graft.core.Edge(a, b, 1.0) }, 4)
      val cp = CheckpointConfig(dir, "cc", every = 3)

      // full uninterrupted run
      val full = ConnectedComponents.run(g).state
        .select("id", "component").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      // interrupted: rebuild the spec with a 5-iteration budget, snapshots every 3
      val und = g.undirected
      import org.apache.spark.sql.functions._
      val init = und.vertices.select(col("id"), lit(true).as("active"), col("id").as("component"))
      val spec0 = ccSpec(maxIter = 6)
      Superstep.run(und, init, spec0, Some(cp))
      // the same config resumes from the latest snapshot (iter 6), now with no budget
      val resumed = Superstep.run(und, init, ccSpec(maxIter = -1), Some(cp))
      val got = resumed.state.select("id", "component").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === full)
      assert(resumed.converged)
      // metrics file covers pre- and post-resume iterations contiguously
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(dir, "cc", "metrics.jsonl"))
      val iters = (0 until lines.size()).map(i =>
        """"iteration":(\d+)""".r.findFirstMatchIn(lines.get(i)).get.group(1).toInt)
      assert(iters === (1 to iters.max))
    }
  }

  private def ccSpec(maxIter: Int) = {
    import org.apache.spark.sql.functions._
    import graft.engine._
    VertexProgramSpec(
      direction = Direction.Out,
      activity = Activity.ActiveOnly,
      send = fr => fr.select(col("id"), col("component").as("msg")),
      reduce = Reduce.byAggs(min("msg").as("acc")),
      apply = (df, _) => {
        val changed = col("acc").isNotNull && col("acc") < col("component")
        df.select(
          col("id"), changed.as("active"),
          when(changed, col("acc")).otherwise(col("component")).as("component"),
          changed.as("_changed"))
      },
      maxIterations = maxIter)
  }
}
