package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{LinkGraph, StorageScope}
import graft.engine.{Activity, Direction, Reduce, RunResult, Superstep, VertexProgramSpec}
import graft.functions.VectorBitOr.vector_bitor

/**
 * Approximate neighborhood function / effective diameter — the ANF/HyperBall
 * family (Palmer–Gibbons–Faloutsos ANF, KDD'02; Boldi–Rosa–Vigna HyperBall).
 * Beyond the reference's algorithm set, but the canonical web-scale
 * link-graph metric: |N(v,h)| = number of vertices reachable from v in ≤h
 * hops, estimated for EVERY vertex simultaneously in h supersteps.
 *
 * Each vertex carries `k` Flajolet–Martin bit registers (one long each).
 * Register r is seeded with the lowest set bit of a 32-bit md5-derived hash
 * of (id, r) — `h & -h` isolates it, giving the geometric bit-position
 * distribution FM needs with integer ops only, exactly replayable in SQL
 * (the g_neigh DuckDB oracle). One superstep ORs every vertex's registers
 * with its out-neighbors' registers, so after h supersteps register r of v
 * equals the OR of register r over N(v,h): set union compressed to 64 bits.
 *
 * ⊕ is [[graft.functions.VectorBitOr]] — a native one-shuffle aggregate, and
 * idempotent, so map-side partials are exact and hub fan-in pre-collapses per
 * map task. State is k longs per vertex: at 10^12 vertices and k=64 that is
 * ~0.5 KB/vertex, h supersteps = h edge-table scans — the HyperBall plan.
 *
 * The estimate 2^mean(R_r)/0.77351 (R_r = lowest ZERO bit of register r) and
 * everything derived from it (global neighborhood function, effective
 * diameter) is spec-verified against exact BFS counts; the gated surface
 * ships the raw registers, which are deterministic bit-for-bit.
 */
object Neighborhood {

  /** FM magic constant (Flajolet–Martin 1985, E[R] = log2(phi·n)). */
  val Phi = 0.77351

  /** Register r's initial value: lowest set bit of the 32-bit md5 hash of
    * "id:r" (0 when the hash is 0 — deterministic on both engines). */
  private def reg0(r: Int): Column = {
    val h = conv(substring(md5(concat(col("id").cast("string"), lit(s":$r"))),
      1, 8), 16, 10).cast("long")
    h.bitwiseAND(-h)
  }

  private def initState(graph: LinkGraph, k: Int): DataFrame =
    graph.vertices.select(
      col("id"), lit(true).as("active"),
      array((0 until k).map(reg0): _*).as("sk"))

  /** One OR-semiring superstep per hop: v gathers its OUT-neighbors'
    * registers (Direction.In routes dst→src), ⊕ = elementwise bitwise OR. */
  private def spec(hops: Int): VertexProgramSpec = VertexProgramSpec(
    direction = Direction.In,
    activity = Activity.AllVertices,
    send = fr => fr.select(col("id"), col("sk").as("msk")),
    reduce = Reduce.byAggs(vector_bitor(col("msk")).as("acc")),
    apply = (df, _) => df.select(
      col("id"), lit(true).as("active"),
      when(col("acc").isNull, col("sk"))
        .otherwise(zip_with(col("sk"), col("acc"), (a, b) => a.bitwiseOR(b)))
        .as("sk"),
      lit(true).as("_changed")),
    maxIterations = hops,
    trackChanges = false)

  /** Per-vertex registers after `hops` supersteps: (id, sk: array<long>). */
  def sketches(graph: LinkGraph, hops: Int, k: Int = 16): DataFrame =
    Superstep.run(graph, initState(graph, k), spec(hops)).state.select("id", "sk")

  /** FM estimate of |N(v,h)| from the k registers: 2^mean(R_r)/Phi, with
    * R_r = index of the lowest ZERO bit of register r (~x & (x+1) isolates
    * it; round() absorbs the log2 ulp on exact powers of two). */
  def estimate(sk: Column, k: Int): Column = {
    val rsum = aggregate(
      transform(sk, x =>
        round(log(2.0, bitwise_not(x).bitwiseAND(x + lit(1L)).cast("double")))),
      lit(0.0), (a, b) => a + b)
    pow(lit(2.0), rsum / lit(k.toDouble)) / lit(Phi)
  }

  /** Per-vertex estimated reach |N(v,h)|: (id, reach: double). */
  def reach(graph: LinkGraph, hops: Int, k: Int = 16): DataFrame =
    sketches(graph, hops, k).select(col("id"), estimate(col("sk"), k).as("reach"))

  /** Global neighborhood function: h → estimated Σ_v |N(v,h)| (the number of
    * ordered reachable pairs within ≤h hops), one superstep per h from a
    * single register set. */
  def neighborhoodFunction(graph: LinkGraph, maxH: Int, k: Int = 16): Seq[(Int, Double)] = {
    var state = initState(graph, k)
    def total(st: DataFrame): Double =
      st.agg(sum(estimate(col("sk"), k))).head().getDouble(0)
    val out = Seq.newBuilder[(Int, Double)]
    out += ((0, total(state)))
    // each hop's run reads the last hop's state once, at its start
    var last: Option[RunResult] = None
    for (h <- 1 to maxH) {
      val run = Superstep.run(graph, state, spec(1))
      last.foreach(_.release())
      last = Some(run)
      state = run.state
      out += ((h, total(state)))
    }
    last.foreach(_.release())
    out.result()
  }

  /** Estimated (outward) harmonic centrality from the same register stream:
    * H(v) = Σ_{h=1..maxH} (|N(v,h)| − |N(v,h−1)|)/h — Boldi–Vigna's sketch
    * formulation. Per-vertex estimates are monotone in h by construction
    * (registers only accumulate), so the diffs are nonnegative; greatest()
    * just absorbs float dust. Returns (id, harmonic: double). */
  def harmonicCentrality(graph: LinkGraph, maxH: Int, k: Int = 16): DataFrame = {
    var state = initState(graph, k)
    var acc = state
      .select(col("id"), lit(0.0).as("hc"), estimate(col("sk"), k).as("eprev"))
    // the last hop's run and sum are read once more, by this hop's
    var last: Option[RunResult] = None
    var lastAcc = new StorageScope
    for (h <- 1 to maxH) {
      val run = Superstep.run(graph, state, spec(1))
      state = run.state
      val accScope = new StorageScope
      acc = accScope.checkpoint(acc
        .join(state.select(col("id"), estimate(col("sk"), k).as("eh")), "id")
        .select(
          col("id"),
          (col("hc") + greatest(lit(0.0), col("eh") - col("eprev")) / h).as("hc"),
          col("eh").as("eprev")))
      last.foreach(_.release()); lastAcc.free()
      last = Some(run); lastAcc = accScope
    }
    last.foreach(_.release())
    acc.select(col("id"), col("hc").as("harmonic"))
  }

  /** Effective diameter at quantile `q`: the smallest h (linearly
    * interpolated) where the neighborhood function reaches q·N(maxH). */
  def effectiveDiameter(graph: LinkGraph, q: Double = 0.9, maxH: Int = 16,
                        k: Int = 16): Double = {
    val nf = neighborhoodFunction(graph, maxH, k)
    val target = q * nf.last._2
    nf.indexWhere(_._2 >= target) match {
      case 0 => 0.0
      case -1 => maxH.toDouble
      case i =>
        val (h0, n0) = nf(i - 1); val (_, n1) = nf(i)
        if (n1 == n0) h0 + 1.0 else h0 + (target - n0) / (n1 - n0)
    }
  }
}
