package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.LinkGraph
import graft.engine._

/**
 * Incremental (delta) PageRank — `src/IncrementalPageRank.cpp:33-185`.
 * State dPR{delta=0.3, pagerank=0.3, degree}; OUT_EDGES, ACTIVE_ONLY (all
 * start active); msg = delta/outdeg (0 if outdeg 0); ⊕ = sum; apply (only
 * receivers): reset delta if |delta|>1e-8, delta += (1−α)·Σ, and fold into
 * pagerank when |delta|>1e-8; changed ⇔ |Δpagerank| > 1e-8
 * (`dPR::operator!=`). Converges to the same fixpoint as PageRank while
 * touching only the changing frontier.
 */
object DeltaPageRank {
  /** The reference inits pagerank=delta=0.3 REGARDLESS of alpha
    * (`dPR` ctor, `src/IncrementalPageRank.cpp:44-49`); alpha only scales
    * propagation. The fixpoint is therefore x = 0.3·1 + A·x with
    * (A·x)_i = (1−α)·Σ_{j→i} x_j/outdeg_j — `initRank` is the additive term
    * and warmStart's residual must use the SAME constant to land on the same
    * fixpoint. */
  private val initRank = 0.3
  private val eps = 1e-8

  /** The dPR vertex program — shared verbatim by cold `run` and `warmStart`
    * (only the INITIAL (pagerank, delta, active) differ). */
  private def spec(alpha: Double): VertexProgramSpec = VertexProgramSpec(
    direction = Direction.Out,
    activity = Activity.ActiveOnly,
    send = fr => fr.select(col("id"),
      when(col("degree") === 0, 0.0).otherwise(col("delta") / col("degree")).as("msg")),
    reduce = Reduce.byAggs(sum("msg").as("acc")),
    apply = (df, _) => {
      val received = col("acc").isNotNull
      val d0 = when(abs(col("delta")) > eps, 0.0).otherwise(col("delta"))
      val d1 = d0 + lit(1.0 - alpha) * col("acc")
      val newDelta = when(received, d1).otherwise(col("delta"))
      val newPr = when(received && abs(d1) > eps, col("pagerank") + d1)
        .otherwise(col("pagerank"))
      val changed = abs(newPr - col("pagerank")) > eps
      df.select(col("id"), changed.as("active"),
        newPr.as("pagerank"), newDelta.as("delta"), col("degree"),
        changed.as("_changed"))
    })

  def run(graph: LinkGraph, alpha: Double = 0.3,
          cp: Option[CheckpointConfig] = None): RunResult = {
    val deg = Degree.outDegrees(graph)
    val init = graph.vertices
      .join(deg, Seq("id"), "left_outer")
      .select(col("id"), lit(true).as("active"),
        lit(initRank).as("pagerank"), lit(initRank).as("delta"),
        coalesce(col("degree"), lit(0L)).as("degree"))
    Superstep.run(graph, init, spec(alpha), cp)
  }

  /**
   * Warm-start after the graph CHANGED (edges/vertices added or removed) —
   * the capability the reference's delta formulation exists for: instead of
   * re-running from the 0.3 init, seed each vertex with the residual of the
   * fixpoint equation on the NEW graph evaluated at the OLD ranks,
   *
   *   r_i = 0.3 + (1−α)·Σ_{j→i} x_old_j / outdeg'_j − x_old_i
   *
   * (outdeg' = degrees of the new graph; vertices unseen in `prevRanks`
   * take x_old = 0), absorb it (pagerank = x_old + r, delta = r) and mark
   * only |r| > eps active. The delta program then IS residual propagation
   * (x += Σ_k A^k r), so it converges to the new graph's exact fixpoint while
   * touching only vertices the change actually reaches — on a web-scale link
   * graph where a crawl batch touches a tiny fraction of pages, the frontier
   * stays proportional to the affected region, not |V|. Correct for
   * arbitrary deltas: added edges, removed edges, new vertices, removed
   * vertices, and source-degree changes (the residual re-prices every
   * receiver of a degree-changed source automatically).
   *
   * Cost beyond the touched region: ONE degree aggregate and ONE
   * contribution SpMV over the new graph to price the residual (both
   * shuffle-bounded, no iteration); at 100 TB these are the same two passes
   * any consistency check would already pay.
   *
   * @param prevRanks (id, pagerank) from a previous `run`/`warmStart` on any
   *                  prior version of the graph
   */
  def warmStart(graph: LinkGraph, prevRanks: DataFrame, alpha: Double = 0.3,
                cp: Option[CheckpointConfig] = None): RunResult = {
    val deg = Degree.outDegrees(graph)
    val xold = graph.vertices
      .join(prevRanks.select(col("id"), col("pagerank").as("_pr0")), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("_pr0"), lit(0.0)).as("_pr0"))
    // (A·x_old)_i over the CURRENT edges; every src has outdeg ≥ 1 by
    // construction so the inner joins lose nothing
    val contrib = graph.edgesBySrc
      .join(xold.select(col("id").as("src"), col("_pr0")), Seq("src"))
      .join(deg.select(col("id").as("src"), col("degree").as("_d")), Seq("src"))
      .groupBy(col("dst").as("id"))
      .agg(sum(col("_pr0") / col("_d")).as("_in"))
    val r0 = lit(initRank) + lit(1.0 - alpha) * coalesce(col("_in"), lit(0.0)) - col("_pr0")
    val init = xold
      .join(contrib, Seq("id"), "left_outer")
      .join(deg, Seq("id"), "left_outer")
      .select(col("id"), (abs(r0) > eps).as("active"),
        (col("_pr0") + r0).as("pagerank"), r0.as("delta"),
        coalesce(col("degree"), lit(0L)).as("degree"))
    Superstep.run(graph, init, spec(alpha), cp)
  }
}

/**
 * Topological sort, Kahn peel — `src/TopologicalSort.cpp:39-206`. Phase 1:
 * in-degree (InDegree program ≡ one grouped count). Phase 2: seeds =
 * in-degree-0 vertices at order 0; each superstep every just-peeled vertex
 * announces itself (msg true ⇒ 1), receivers subtract the count from their
 * remaining in-degree and take order = superstep index when it reaches 0
 * (`current_topsort_order`, bumped per iteration `:116-124`). Cycles leave
 * vertices at order −1 (the reference's MAX_DIST sentinel, detected at
 * `:177-184`).
 *
 * Returns state (id, in_degree, order); `order == -1` ⇒ on/behind a cycle.
 */
object TopologicalSort {
  def run(graph: LinkGraph, cp: Option[CheckpointConfig] = None): RunResult = {
    val inDeg = Degree.inDegrees(graph)
    val init = graph.vertices
      .join(inDeg, Seq("id"), "left_outer")
      .select(col("id"),
        (coalesce(col("degree"), lit(0L)) === 0).as("active"),
        coalesce(col("degree"), lit(0L)).as("in_degree"),
        when(coalesce(col("degree"), lit(0L)) === 0, 0L).otherwise(-1L).as("order"))
    val spec = VertexProgramSpec(
      direction = Direction.Out,
      activity = Activity.ActiveOnly,
      send = fr => fr.select(col("id"), (col("in_degree") === 0).as("msg")),
      gather = df => df.withColumn("msg", when(col("msg"), 1L).otherwise(0L)),
      reduce = Reduce.byAggs(sum("msg").as("acc")),
      apply = (df, iter) => {
        val received = col("acc").isNotNull && col("acc") > 0
        val newInDeg = when(received, col("in_degree") - col("acc")).otherwise(col("in_degree"))
        val peeled = received && col("in_degree") > 0 && newInDeg === 0
        val newOrder = when(peeled, lit(iter + 1).cast("long")).otherwise(col("order"))
        val changed = received && newInDeg =!= col("in_degree")
        df.select(col("id"), changed.as("active"),
          newInDeg.as("in_degree"), newOrder.as("order"),
          changed.as("_changed"))
      })
    Superstep.run(graph, init, spec, cp)
  }

  /** The reference's cycle check (`:177-184`): count of unreached vertices. */
  def unreachable(result: RunResult): Long =
    result.state.filter(col("order") === -1L).count()
}

/**
 * Delta-stepping SSSP — `src/DeltaStepping.cpp:42-198`. Edges split into
 * light (weight ≤ δ) and heavy (> δ) graphs SHARING one distance/bucket
 * state (`shareVertexProperty`, `:142`). Driver loop (`:163-178`): per
 * bucket id — relax light edges to convergence (msg gated on bucket==bid:
 * non-bid vertices send +∞, which never relaxes), one heavy superstep,
 * advance bid while any vertex has bid ≤ bucket < ∞.
 */
object DeltaStepping {
  def run(graph: LinkGraph, source: Long, delta: Double,
          maxBuckets: Int = 10000): (DataFrame, Int) = {
    val inf = Double.PositiveInfinity
    val lightG = LinkGraph(graph.edges.filter(col("weight") <= delta), graph.numPartitions)
    val heavyG = LinkGraph(graph.edges.filter(col("weight") > delta), graph.numPartitions)

    def spec(bid: Int, maxIterations: Int) = VertexProgramSpec(
      direction = Direction.Out,
      activity = Activity.ActiveOnly,
      send = fr => fr.select(col("id"),
        when(col("bucket") === bid, col("dist")).otherwise(inf).as("msg")),
      gather = df => df.withColumn("msg", col("msg") + col("weight")),
      reduce = Reduce.byAggs(min("msg").as("acc")),
      apply = (df, _) => {
        val better = col("acc").isNotNull && col("acc") < col("dist")
        df.select(col("id"), better.as("active"),
          when(better, col("acc")).otherwise(col("dist")).as("dist"),
          when(better, floor(col("acc") / delta).cast("long")).otherwise(col("bucket")).as("bucket"),
          better.as("_changed"))
      },
      maxIterations = maxIterations)

    // state over the FULL vertex set (light/heavy subgraphs share it)
    var state = graph.vertices.select(
      col("id"), lit(true).as("active"),
      when(col("id") === source, 0.0).otherwise(inf).as("dist"),
      when(col("id") === source, 0L).otherwise(Long.MaxValue).as("bucket"))

    // Driver-loop deviations from the reference (same fixpoint, fewer jobs):
    //  - ONE tiny aggregate on the already-materialized state both probes
    //    for termination AND finds the NEXT nonempty bucket, so empty
    //    buckets cost nothing (the reference increments bid by 1 and spins
    //    a full light+heavy pass through every empty bucket, `:163-178`;
    //    processing an empty bucket is a provable no-op: every vertex sends
    //    +inf, which never relaxes).
    //  - each round releases the previous round's two runs — without this
    //    a many-bucket run pins one state snapshot per phase per round.
    var prev: Seq[RunResult] = Nil
    var bid = 0L
    var rounds = 0
    var done = false
    while (!done && rounds < maxBuckets) {
      // light phase to convergence (setAllActive before each run, `:166`)
      val light = Superstep.run(lightG, state.withColumn("active", lit(true)),
        spec(bid.toInt, -1))
      // heavy phase, exactly one superstep (`:170-171`)
      val heavy = Superstep.run(heavyG, light.state.withColumn("active", lit(true)),
        spec(bid.toInt, 1))
      state = heavy.state
      rounds += 1
      val nxt = state.agg(
        min(when(col("bucket") > bid && col("bucket") =!= Long.MaxValue,
          col("bucket"))).as("nxt")).head()
      prev.foreach(_.release())
      prev = Seq(light, heavy)
      if (nxt.isNullAt(0)) done = true else bid = nxt.getLong(0)
    }
    // the last heavy run's state is the result; nothing else reads the
    // last light run or the two subgraphs' views
    prev.headOption.foreach(_.release())
    lightG.unpersistAll(); heavyG.unpersistAll()
    (state.select("id", "dist", "bucket"), rounds)
  }
}

/**
 * SGD matrix factorization — `src/SGD.cpp:36-236`. Bipartite rating edges;
 * K-dim latent vectors; ALL_EDGES (both directions), ALL_VERTICES, fixed
 * iteration count (10 in the reference main). ⊗ is the 3-operand form
 * (needs the receiver's vector): contrib = msg.lv · (rating − ⟨msg.lv,
 * recv.lv⟩); ⊕ = elementwise vector sum (explode-K + regroup — scales to
 * hub vertices, unlike collect_list); apply: lv += step·(−λ·lv + Σ).
 *
 * Init deviation (documented): the reference seeds per-vertex glibc
 * `rand_r(vertexid)` (`:176-184`); we use a splitmix64-derived uniform [0,1)
 * per (vertex, k) — deterministic and engine-reproducible. Conformance tests
 * compare against an in-test fold using the SAME init.
 */
object Sgd {
  val K = 20

  /** Deterministic uniform [0,1) per (id, k) — splitmix64 finalizer.
    * (Scala-side: the wrapping multiplies would trip ANSI overflow checks as
    * Column arithmetic; init runs once in the load phase, so a typed map is
    * fine and keeps test oracles bit-identical.) */
  def initLv(id: Long, k: Int): Double = {
    var z = (id * 31L + k + 1L) * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= (z >>> 31)
    (z >>> 11).toDouble / 9007199254740992.0 // 2^53
  }

  /** Scalar twin of [[md5Init]] for the CSR vector kernel's
    * `(id, k) => Double` init: the same md5("id:k") first-8-hex-digits /
    * 2^32 value, computed JVM-side so both engines (and the DuckDB oracle)
    * start from identical latent vectors. */
  def md5InitScalar(id: Long, k: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"$id:$k".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
            ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    v.toDouble / 4294967296.0
  }

  /** md5-derived init vector (first 8 hex digits → uniform [0,1)): exactly
    * replayable by the DuckDB oracle (conv/substring are both engines'
    * builtins), unlike the splitmix default. */
  def md5Init(graph: LinkGraph): DataFrame =
    graph.vertices.select(col("id"), lit(true).as("active"),
      array((0 until K).map(k =>
        conv(substring(md5(concat(col("id").cast("string"), lit(":"), lit(k))), 1, 8),
          16, 10).cast("long").cast("double") / lit(4294967296.0)): _*).as("lv"))

  def run(graph: LinkGraph, iterations: Int = 10, lambda: Double = 0.001,
          step: Double = 0.00000035, // reference defaults, `SGD.cpp:170`
          cp: Option[CheckpointConfig] = None,
          initState: DataFrame = null): RunResult = {
    val spark = graph.edges.sparkSession
    import spark.implicits._
    val kDims = K
    val init = if (initState != null) initState else graph.vertices.select(col("id")).as[Long]
      .map(id => (id, true, Array.tabulate(kDims)(k => initLv(id, k))))
      .toDF("id", "active", "lv")
    val spec = VertexProgramSpec(
      direction = Direction.All,
      activity = Activity.AllVertices,
      needsRecvState = true,
      send = fr => fr.select(col("id"), col("lv").as("msg")),
      gather = df => {
        // ⟨msg, v_lv⟩ and msg·err as native codegen'd vector ops —
        // bit-identical to the zip_with/transform folds they replace
        val est = graft.functions.VectorDot.vector_dot(col("msg"), col("v_lv"))
        val err = col("weight") - est
        df.withColumn("contrib",
          graft.functions.VectorArith.vector_mul(col("msg"), err))
      },
      // ⊕ elementwise over the K dims: native vector_sum — one shuffle at
      // 1/K the rows vs the explode→regroup shape
      reduce = df => df.groupBy("_recv")
        .agg(graft.functions.VectorSum.vector_sum(col("contrib")).as("acc")),
      apply = (df, _) => {
        // lv + step·(−λ·lv + acc), native ops, same IEEE order (± commute)
        import graft.functions.VectorArith._
        val newLv = when(col("acc").isNull, col("lv"))
          .otherwise(vector_add(col("lv"),
            vector_mul(vector_add(vector_mul(col("lv"), lit(-lambda)),
              col("acc")), lit(step))))
        val changed = col("acc").isNotNull &&
          exists(zip_with(newLv, col("lv"), (a, b) => abs(a - b)), _ > 1e-7)
        df.select(col("id"), lit(true).as("active"), newLv.as("lv"),
          changed.as("_changed"))
      },
      maxIterations = iterations,
      trackChanges = false)
    Superstep.run(graph, init, spec, cp)
  }

  /** RMSE over all ratings given a trained state — `RMSEProgram`
    * (`SGD.cpp:122-156`) collapsed to its algebraic meaning:
    * sqrt(Σ (rating − ⟨lv_u, lv_v⟩)² / nnz). */
  def rmse(graph: LinkGraph, state: DataFrame): Double = {
    val u = state.select(col("id").as("src"), col("lv").as("ulv"))
    val v = state.select(col("id").as("dst"), col("lv").as("vlv"))
    val est = graft.functions.VectorDot.vector_dot(col("ulv"), col("vlv"))
    val agg = graph.edges.join(u, "src").join(v, "dst")
      .select(pow(col("weight") - est, 2.0).as("se"))
      .agg(sum("se"), count("*")).head()
    math.sqrt(agg.getDouble(0) / agg.getLong(1))
  }
}

/**
 * k-core decomposition by parallel peel, as a vertex program on the same
 * Superstep engine (cf. TopologicalSort's Kahn peel — this is its undirected
 * twin). Round 0 removes every vertex whose distinct-neighbor degree is < k;
 * each superstep the just-removed vertices announce themselves along the
 * undirected simple view, survivors subtract the announcement count from
 * their remaining degree and are removed when it drops below k. Fixpoint =
 * the k-core (unique maximal subgraph with min degree ≥ k). The rounds here
 * are exactly the standard synchronous peel, so an unrolled SQL twin with at
 * least as many rounds replays it bit-for-bit (extra rounds are no-ops).
 *
 * Scale: state is one row per vertex, each round is one ACTIVE_ONLY frontier
 * join + grouped count over the pre-clustered undirected edges — the peel
 * frontier shrinks monotonically, so late rounds cost only the survivors'
 * partial aggregates. Not in the reference's app set; included because
 * coreness filtering is a standard link-graph quality signal (e.g. spam/bot
 * tail pruning before PageRank at web scale).
 */
object KCore {
  /** Returns (id, in_core) over ALL vertices of `graph`. */
  def run(graph: LinkGraph, k: Int,
          cp: Option[CheckpointConfig] = None): RunResult = {
    val und = graph.undirected
    val deg = Degree.outDegrees(und) // distinct-neighbor count (simple view)
    val init = und.vertices
      .join(deg, Seq("id"), "left_outer")
      .select(col("id"),
        // removed at round 0 ⇒ announce in superstep 1
        (coalesce(col("degree"), lit(0L)) < k).as("active"),
        coalesce(col("degree"), lit(0L)).as("rdeg"),
        (coalesce(col("degree"), lit(0L)) < k).as("removed"))
    val spec = VertexProgramSpec(
      direction = Direction.Out,
      activity = Activity.ActiveOnly,
      send = fr => fr.select(col("id"), lit(1L).as("msg")),
      reduce = Reduce.byAggs(sum("msg").as("acc")),
      apply = (df, _) => {
        val received = col("acc").isNotNull && col("acc") > 0
        val newDeg = when(!col("removed") && received, col("rdeg") - col("acc"))
          .otherwise(col("rdeg"))
        val newlyRemoved = !col("removed") && received && newDeg < k
        df.select(col("id"), newlyRemoved.as("active"),
          newDeg.as("rdeg"),
          (col("removed") || newlyRemoved).as("removed"),
          newlyRemoved.as("_changed"))
      })
    // messages flow along the undirected simple view (the same one the
    // degrees came from), NOT the directed input graph
    Superstep.run(und, init, spec, cp)
  }

  /** Convenience projection: (id, in_core). */
  def membership(graph: LinkGraph, k: Int): DataFrame =
    run(graph, k).state.select(col("id"), (!col("removed")).as("in_core"))
}
