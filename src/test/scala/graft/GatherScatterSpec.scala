package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.rdd.RDD

import graft.core.{Edge, LinkGraph, Transcripts}
import graft.engine.{DeltaPrCsr, GatherScatter, HadoopSnapshotStore, ToposortCsr, VectorSuperstep}
import graft.algos.PageRank
import SparkTestBase.withTempDir

class GatherScatterSpec extends AnyFunSuite {
  lazy val s = SparkTestBase.spark

  test("LongDoubleMap: put/addTo/get over structured low-entropy keys") {
    val m = new GatherScatter.LongDoubleMap(4)
    val keys = (0L until 2000L).map(i => (i << 20) | (i % 12)) // convId<<20|turn shape
    keys.foreach(k => m.put(k, k.toDouble))
    keys.foreach(k => m.addTo(k, 1.0))
    assert(m.size === keys.size)
    keys.foreach(k => assert(m.getOrNaN(k) === k.toDouble + 1.0))
    assert(m.getOrNaN(Long.MaxValue).isNaN)
  }

  test("gather-scatter PageRank == column-engine PageRank on the reference graph") {
    val g = LinkGraph.fromSeq(s,
      SparkTestBase.testGraphEdges.map { case (a, b) => Edge(a, b, 1.0) }, 4)
    val fast = GatherScatter.toDF(s, GatherScatter.pageRank(GatherScatter.build(g), 0.3, 10))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sql = PageRank.run(g, tol = -1.0, maxIterations = 10).state
      .select("id", "pagerank").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fast.keySet === sql.keySet)
    for ((k, v) <- sql) assert(math.abs(fast(k) - v) < 1e-12, s"vertex $k")
  }

  test("gather-scatter until-convergence matches the reference fold and the engine's stop rule") {
    val g = LinkGraph.fromSeq(s,
      SparkTestBase.testGraphEdges.map { case (a, b) => Edge(a, b, 1.0) }, 4)
    val (ranks, iters) = GatherScatter.pageRankConverged(GatherScatter.build(g), 0.3, 1e-5)
    val got = GatherScatter.toDF(s, ranks).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = SparkTestBase.refPageRank(SparkTestBase.testGraphEdges)
    for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-6, s"vertex $k")
    val engine = PageRank.run(g)
    assert(iters === engine.iterations, s"fast $iters vs engine ${engine.iterations}")
  }

  test("degree-aware hot-vertex split: hub edges spread across partitions, results unchanged") {
    // planted hub: vertex 1 fans out to 2000 spokes; background chains keep
    // the rest of the graph non-trivial
    val hub = (2L to 2001L).map(d => Edge(1L, d, 1.0))
    val chains = (0 until 40).flatMap(c =>
      (0 until 20).map(i => Edge(10000L + c * 100 + i, 10000L + c * 100 + i + 1, 1.0)))
    val g = LinkGraph.fromSeq(s, hub ++ chains, 8)

    val split = GatherScatter.build(g, 8, hotDegree = 100)
    assert(split.hotIds.toSeq === Seq(1L), "hub must be flagged hot")
    // degree-aware split: no partition holds more than a fair share of the
    // hub's edges (vs all 2000 in one partition without the split)
    val perPart = split.csr.map(b =>
      b.hotEdgeSrcIdx.length + b.edgeSrcIdx.filter(_ != null).map(_.length).sum).collect()
    assert(perPart.max < 2000 / 2, s"hub edges still concentrated: ${perPart.toSeq}")
    assert(perPart.count(_ > 0) >= 4, "hub edges should spread over several partitions")

    val noSplit = GatherScatter.build(g, 8, hotDegree = 1000000)
    assert(noSplit.hotIds.isEmpty)
    val a = GatherScatter.toDF(s, GatherScatter.pageRank(split, 0.3, 10))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = GatherScatter.toDF(s, GatherScatter.pageRank(noSplit, 0.3, 10))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sql = PageRank.run(g, tol = -1.0, maxIterations = 10).state
      .select("id", "pagerank").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.keySet === sql.keySet)
    for ((k, v) <- sql) {
      assert(math.abs(a(k) - v) < 1e-9, s"split vs engine, vertex $k")
      assert(math.abs(a(k) - b(k)) < 1e-12, s"split vs no-split, vertex $k")
    }
    // the until-convergence path (per-superstep materialization + mirror
    // broadcast) agrees too, including the stop rule
    val (cr, ci) = GatherScatter.pageRankConverged(split, 0.3, 1e-5)
    val (dr, di) = GatherScatter.pageRankConverged(noSplit, 0.3, 1e-5)
    assert(ci === di, s"converged iterations: split $ci vs no-split $di")
    val cm = GatherScatter.toDF(s, cr).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dm = GatherScatter.toDF(s, dr).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((k, v) <- dm) assert(math.abs(cm(k) - v) < 1e-12, s"converged split vs no-split, vertex $k")
    split.unpersist(); noSplit.unpersist()
  }

  test("gather-scatter PageRank on transcript graph: engine parity + partition invariance") {
    val graph = Transcripts.toGraph(Transcripts.synthesize(s, 300))
    val p4 = GatherScatter.toDF(s, GatherScatter.pageRank(GatherScatter.build(graph, 4), 0.3, 8))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val p9 = GatherScatter.toDF(s, GatherScatter.pageRank(GatherScatter.build(graph, 9), 0.3, 8))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sql = PageRank.run(graph, tol = -1.0, maxIterations = 8).state
      .select("id", "pagerank").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p4.keySet === sql.keySet)
    for ((k, v) <- sql) {
      assert(math.abs(p4(k) - v) < 1e-9, s"vs engine, vertex $k")
      assert(math.abs(p4(k) - p9(k)) < 1e-12, s"partition invariance, vertex $k")
    }
  }

  test("conversation-locality partitioning (keyShift=20): identical ranks, zero-cut routing") {
    val graph = Transcripts.toGraph(Transcripts.synthesize(s, 300))
    val hashed = GatherScatter.build(graph, 4)
    val coloc = GatherScatter.build(graph, 4, keyShift = 20)
    val a = GatherScatter.toDF(s, GatherScatter.pageRank(hashed, 0.3, 8))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = GatherScatter.toDF(s, GatherScatter.pageRank(coloc, 0.3, 8))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.keySet === b.keySet)
    for ((k, v) <- a) assert(math.abs(b(k) - v) < 1e-12, s"keyShift parity, vertex $k")
    // transcript edges are intra-conversation, and ids are convOrd<<20|turn:
    // with keyShift=20 every gather target must be the edge's own partition
    def crossTargets(g: GatherScatter.PrGraph) = g.csr.mapPartitionsWithIndex { (p, it) =>
      val blk = it.next()
      Iterator.single(blk.outIds.indices.count(tp => tp != p && blk.outIds(tp) != null))
    }.sum().toLong
    assert(crossTargets(coloc) === 0L, "conversation partitioning must leave no cross-partition targets")
    // build measures the same cut
    assert(coloc.cut === 0L)
    assert(hashed.cut === crossTargets(hashed))
    assert(hashed.cut > 0L, "hash partitioning must cut some conversations")
    // a layout with a cut that claims none fails loudly, never drops blocks
    val before = s.sparkContext.getPersistentRDDs.keySet
    val e = intercept[org.apache.spark.SparkException] {
      GatherScatter.pageRank(hashed.copy(cut = 0L), 0.3, 8)
    }
    assert(e.getMessage.contains("cut-free") && e.getMessage.contains("addressed a block"),
      e.getMessage)
    s.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
      if (!before(id)) r.unpersist(blocking = false)
    }
    hashed.unpersist(); coloc.unpersist()
  }

  test("a cut-free layout's narrow supersteps equal the shuffle path bit for bit") {
    // the same cut-free layout run twice: as measured (cut 0: no shuffle)
    // and as unknown (cut -1: the split exchange's shuffle), every kernel
    val graph = Transcripts.toGraph(Transcripts.synthesize(s, 300))
    val und = graph.undirected
    val g = GatherScatter.build(graph, 4, keyShift = 20)
    val gu = GatherScatter.build(und, 4, keyShift = 20, weighted = true)
    assert(g.cut === 0L && gu.cut === 0L)
    type Run = GatherScatter.PrGraph => (Map[Long, Seq[Long]], Int)
    def bits(r: RDD[GatherScatter.RankBlock]) = {
      val m = r.flatMap(b => b.ids.zip(b.pr.map(v => Seq(java.lang.Double.doubleToRawLongBits(v)))))
        .collect().toMap
      r.unpersist(false)
      m
    }
    val kernels: Seq[(String, Run)] = Seq(
      "pageRank" -> (x => (bits(GatherScatter.pageRank(x, 0.3, 8)), 8)),
      "pageRankConverged" -> { x =>
        val (r, it) = GatherScatter.pageRankConverged(x, 0.3, 1e-5); (bits(r), it) },
      "personalizedPageRank" -> (x =>
        (bits(GatherScatter.personalizedPageRank(x, id => (id >>> 20) % 3 == 0, 0.3, 8)), 8)),
      "DeltaPrCsr.run" -> { x => val (r, it) = DeltaPrCsr.run(x); (bits(r), it) },
      "ToposortCsr.run" -> { x => val (r, it) = ToposortCsr.run(x); (bits(r), it) })
    val undirected: Seq[(String, Run)] = Seq(
      "connectedComponents" -> { x =>
        val (r, it) = GatherScatter.connectedComponents(x); (bits(r), it) },
      "labelPropagation" -> { x =>
        val (r, it) = GatherScatter.labelPropagation(x, 5); (bits(r), it) },
      "VectorSuperstep.sgd" -> { x =>
        val r = VectorSuperstep.sgd(x, k = 4, iterations = 3, init = graft.algos.Sgd.initLv)
        val m = r.flatMap(b => Iterator.range(0, b.ids.length).map(i =>
          b.ids(i) -> b.vecs.slice(i * b.k, (i + 1) * b.k)
            .map(java.lang.Double.doubleToRawLongBits).toSeq)).collect().toMap
        r.unpersist(false)
        (m, 3)
      })
    for ((gr, ks) <- Seq(g -> kernels, gu -> undirected); (name, run) <- ks) {
      val (narrow, narrowSteps) = run(gr)
      val (shuffled, shuffledSteps) = run(gr.copy(cut = -1L))
      assert(narrowSteps === shuffledSteps, s"$name supersteps")
      assert(narrow.nonEmpty && narrow === shuffled, s"$name results")
    }
    g.unpersist(); gu.unpersist(); und.unpersistAll(); graph.unpersistAll()
  }

  test("CSR snapshot save/load round-trip: loaded graph computes identical ranks") {
    val graph = Transcripts.toGraph(Transcripts.synthesize(s, 200))
    val built = GatherScatter.build(graph, 4, keyShift = 20)
    val want = GatherScatter.toDF(s, GatherScatter.pageRank(built, 0.3, 6))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    withTempDir("graft-snap") { dir =>
      GatherScatter.save(built, s"$dir/g")
      built.unpersist()
      def ranksOf(path: String) = {
        val loaded = GatherScatter.load(s, path)
        val got = GatherScatter.toDF(s, GatherScatter.pageRank(loaded, 0.3, 6))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        loaded.unpersist()
        (loaded, got)
      }
      val (loaded, got) = ranksOf(s"$dir/g")
      assert(loaded.numPartitions === 4)
      assert(loaded.numEdges === graph.numEdges)
      assert(loaded.cut === 0L, "the manifest carries the measured cut")
      assert(got.keySet === want.keySet)
      for ((k, v) <- want) assert(got(k) === v, s"bit-for-bit parity, vertex $k")
      // a snapshot saved before the cut was measured loads as unknown and
      // runs the shuffle path to the same ranks
      val manifest = s"$dir/g/manifest.json"
      val text = HadoopSnapshotStore.readText(s.sparkContext, manifest).get
      assert(text.contains("\"cut\":0,"))
      HadoopSnapshotStore.writeText(s.sparkContext, manifest, text.replace("\"cut\":0,", ""))
      val (old, oldGot) = ranksOf(s"$dir/g")
      assert(old.cut === -1L)
      for ((k, v) <- want) assert(oldGot(k) === v, s"bit-for-bit parity without a cut, vertex $k")
    }
  }

  test("(min,+) kernel: connected components == column-engine HashMin (reference graph + transcripts + planted hub)") {
    // the same static exchange running the second semiring: labels must hit
    // the exact weak-component fixpoint the declarative engine computes
    val cases = Seq(
      "test.bin.mtx" -> LinkGraph(
        graft.sources.MtxReader.read(s, SparkTestBase.refData("test.bin.mtx")), 4),
      "transcripts" -> Transcripts.toGraph(Transcripts.synthesize(s, 150)),
      // planted hub: vertex 1 fans out past any hot threshold, exercising
      // the mirror-broadcast path of the min kernel
      "hub" -> LinkGraph.fromSeq(s,
        (2L to 600L).map(i => Edge(1L, i, 1.0)) ++
          Seq(Edge(700L, 701L, 1.0), Edge(701L, 702L, 1.0)), 4)
    )
    for ((name, g) <- cases) {
      val want = graft.algos.ConnectedComponents.run(g).state
        .select("id", "component").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val und = g.undirected
      val built = GatherScatter.build(und,
        numPartitions = 4, hotDegree = if (name == "hub") 100 else 0)
      val (labels, iters) = GatherScatter.connectedComponents(built)
      val got = GatherScatter.toDF(s, labels).collect()
        .map(r => r.getLong(0) -> r.getDouble(1).toLong).toMap
      assert(got === want, s"case $name (converged in $iters supersteps)")
      labels.unpersist(false); built.unpersist()
      und.unpersistAll(); g.unpersistAll()
    }
  }

  test("(mode) kernel: label propagation == column-engine LP (reference graph + transcripts + planted hub)") {
    // the third ⊕ on the static exchange: mode-of-neighbor-labels with the
    // smaller-label tie-break. The hub case pins the mirror-broadcast path
    // (a hot vertex's label reaches its shard edges via the broadcast) AND
    // the count semantics (hub fan-in pre-aggregated per source partition
    // must still yield the same mode the column engine's flat count does).
    val cases = Seq(
      "test.bin.mtx" -> LinkGraph(
        graft.sources.MtxReader.read(s, SparkTestBase.refData("test.bin.mtx")), 4),
      "transcripts" -> Transcripts.toGraph(Transcripts.synthesize(s, 150)),
      "hub" -> LinkGraph.fromSeq(s,
        (2L to 600L).map(i => Edge(1L, i, 1.0)) ++
          Seq(Edge(700L, 701L, 1.0), Edge(701L, 702L, 1.0), Edge(1L, 700L, 1.0)), 4)
    )
    for ((name, g) <- cases; iters <- Seq(1, 3)) {
      val want = graft.algos.LabelPropagation.run(g, iterations = iters).state
        .select("id", "label").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val und = g.undirected
      val built = GatherScatter.build(und,
        numPartitions = 4, hotDegree = if (name == "hub") 100 else 0)
      val (labels, _) = GatherScatter.labelPropagation(built, iters)
      val got = GatherScatter.toDF(s, labels).collect()
        .map(r => r.getLong(0) -> r.getDouble(1).toLong).toMap
      assert(got === want, s"case $name, $iters iterations")
      labels.unpersist(false); built.unpersist()
      und.unpersistAll(); g.unpersistAll()
    }
  }

  test("(min,+) kernel: BFS levels == column-engine BFS on the reference graph") {
    val cases = Seq(
      ("test.bin.mtx", LinkGraph(
        graft.sources.MtxReader.read(s, SparkTestBase.refData("test.bin.mtx")), 4), 1L),
      // planted hub: 1 fans out to 600 spokes over the mirror-broadcast path.
      // BFS from 800 reaches the hub first, so its level arrives through the
      // mirror one superstep late, and each spoke's level is the mirrored
      // level plus the ⊗ constant 1 — added exactly once
      ("hub", LinkGraph.fromSeq(s,
        (2L to 601L).map(i => Edge(1L, i, 1.0)) :+ Edge(800L, 1L, 1.0), 4), 800L))
    for ((name, g, src) <- cases) {
      val want = graft.algos.Bfs.run(g, src).state
        .filter(org.apache.spark.sql.functions.col("depth") >= 0)
        .select("id", "depth").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val built = GatherScatter.build(g, 4, hotDegree = if (name == "hub") 100 else 0)
      if (name == "hub") assert(built.hotIds.toSeq === Seq(1L))
      val (depths, _) = GatherScatter.bfs(built, src)
      val got = GatherScatter.toDF(s, depths).collect()
        .filter(!_.getDouble(1).isInfinity)
        .map(r => r.getLong(0) -> r.getDouble(1).toLong).toMap
      assert(got === want, s"case $name")
      if (name == "hub") assert(got(1L) === 1L && got(600L) === 2L)
      depths.unpersist(false); built.unpersist(); g.unpersistAll()
    }
  }

  test("weighted (min,+) kernel: SSSP == column-engine SSSP (reference graph + transcripts + planted hub)") {
    // per-edge weights on the same static exchange: distances must hit the
    // exact Bellman-Ford fixpoint the declarative engine computes (which
    // GoldenParitySpec ties to a Dijkstra oracle on the reference graph)
    val cases = Seq(
      "test.bin.mtx" -> LinkGraph(
        graft.sources.MtxReader.read(s, SparkTestBase.refData("test.bin.mtx")), 4),
      "transcripts" -> Transcripts.toGraph(Transcripts.synthesize(s, 150)),
      // planted hub with DISTINCT per-edge weights: the hub's edges ride the
      // mirror-broadcast path, so this pins hotEdgeW alignment specifically
      "hub" -> LinkGraph.fromSeq(s,
        (2L to 600L).map(i => Edge(1L, i, 1.0 + (i % 7) * 0.25)) ++
          Seq(Edge(700L, 701L, 2.5), Edge(701L, 702L, 0.5), Edge(1L, 700L, 4.0)), 4)
    )
    for ((name, g) <- cases) {
      val src = if (name == "hub") 1L else {
        g.vertices.agg(org.apache.spark.sql.functions.min("id")).head.getLong(0)
      }
      val want = graft.algos.Sssp.run(g, src).state
        .filter(!org.apache.spark.sql.functions.col("dist").isNaN)
        .select("id", "dist").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val built = GatherScatter.build(g,
        numPartitions = 4, hotDegree = if (name == "hub") 100 else 0,
        weighted = true)
      if (name == "hub") assert(built.hotIds.toSeq === Seq(1L))
      val (dists, iters) = GatherScatter.sssp(built, src)
      val got = GatherScatter.toDF(s, dists).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet === want.keySet, s"case $name")
      for ((k, v) <- want)
        assert(got(k) == v || math.abs(got(k) - v) < 1e-9,
          s"case $name vertex $k: got ${got(k)} want $v (in $iters supersteps)")
      dists.unpersist(false); built.unpersist(); g.unpersistAll()
    }
  }

  test("weighted build survives save/load round-trip (manifest weighted flag + edgeW blocks)") {
    val g = LinkGraph.fromSeq(s,
      Seq(Edge(1L, 2L, 3.0), Edge(2L, 3L, 1.5), Edge(1L, 3L, 10.0), Edge(3L, 4L, 0.25)), 2)
    val built = GatherScatter.build(g, 2, weighted = true)
    withTempDir("gs-wsnap") { dir =>
      GatherScatter.save(built, dir)
      val loaded = GatherScatter.load(s, dir)
      assert(loaded.weighted)
      val got = GatherScatter.toDF(s, GatherScatter.sssp(loaded, 1L)._1).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got(1L) === 0.0); assert(got(2L) === 3.0)
      assert(got(3L) === 4.5); assert(got(4L) === 4.75)
      loaded.unpersist(); built.unpersist(); g.unpersistAll()
    }
  }

  test("load() caches ONE combined block RDD (csr+meta co-placement is structural)") {
    // Regression: caching csr and meta as two separately-shuffled RDDs lets
    // partition i's edge blocks and vertex metadata land on DIFFERENT
    // executors (their cache tasks carry no mutual location preference), and
    // every superstep zip then remote-reads a cached block — measured 21s ->
    // 4.4s per 10 supersteps on 2x4-core executors at 65M edges. One backing
    // RDD makes the alignment structural; this pins the invariant.
    val graph = Transcripts.toGraph(Transcripts.synthesize(s, 100))
    val built = GatherScatter.build(graph, 4)
    withTempDir("graft-snap1") { dir =>
      GatherScatter.save(built, s"$dir/g")
      built.unpersist()
      graph.unpersistAll()
      val before = s.sparkContext.getPersistentRDDs.keySet
      val loaded = GatherScatter.load(s, s"$dir/g")
      val added = s.sparkContext.getPersistentRDDs.keySet -- before
      assert(added.size === 1,
        s"load() must persist exactly one combined RDD, persisted ${added.size}")
      loaded.unpersist()
      assert((s.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
        "unpersist() must free the backing RDD")
    }
  }
}
