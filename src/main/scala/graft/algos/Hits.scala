package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{LinkGraph, StorageScope}

/**
 * HITS (Kleinberg's hubs-and-authorities) by synchronous power iteration
 * with per-phase L2 normalization:
 *
 *   auth'(v) = Σ_{(u,v)∈E} hub(u)   then  auth = auth' / ‖auth'‖₂
 *   hub'(u)  = Σ_{(u,v)∈E} auth(v)  then  hub  = hub'  / ‖hub'‖₂
 *
 * Beyond the reference's bundled app set, but expressed in the same two
 * primitives its runtime is built from: each half-iteration is one SpMV /
 * SpMTSpV (P1/P3 — a join against the pre-clustered edge view plus a sum
 * aggregate keyed on vertex id) and each norm is a MapReduce global fold
 * (P6, `/root/reference/include/GraphMatRuntime.h` program shapes). On the
 * transcript link graph, authorities are the heavily-replied-to turns and
 * hubs the turns that fan out into them.
 *
 * Scale shape (100 TB): both halves shuffle once on the vertex id the
 * aggregate already keys on; the edge side never re-shuffles (it joins from
 * `edgesBySrc`/`edgesByDst`); norms are tree-aggregated scalars collected to
 * the driver (one Double per half-iteration). State is localCheckpoint'd
 * every iteration, so the plan depth is constant in `iterations`.
 */
object Hits {

  /** Returns (id, hub, auth) after `iterations` full update rounds.
    *
    * Job shape (r06): ONE action per half-iteration — the norm aggregate
    * materializes that half's raw-sum cache and (riding the same job) the
    * previous half's LAZY localCheckpoint. The lazy checkpoint is the
    * load-bearing piece: it truncates the logical plan at zero extra jobs
    * — without it each half's plan nests the entire iteration history and
    * ANALYSIS time grows per iteration (measured: half walls 0.6 s → 9.5 s
    * by iteration 5); the old eager form truncated too but paid a second
    * action per half (4 jobs/iteration → now 2). Each iteration's two
    * raw-sum caches and two checkpoints sit in one [[StorageScope]], freed
    * one iteration behind; the final pair stays for the caller (session
    * sweep frees it). */
  def run(graph: LinkGraph, iterations: Int = 5): DataFrame = {
    require(iterations >= 1, "HITS needs at least one iteration")
    val verts = graph.vertices // cached by LinkGraph
    var hub = verts.select(col("id"), lit(1.0).as("hub"))
    var auth: DataFrame = null
    var last = new StorageScope
    for (it <- 1 to iterations) {
      val scope = new StorageScope
      // authority half: pull hub mass along in-edges (join keyed on src —
      // the CSR view — then aggregate on dst); the norm agg is the action
      val araw = scope.persist(graph.edgesBySrc
        .join(hub.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(sum("hub").as("x")))
      val an = math.sqrt(araw.agg(sum(col("x") * col("x"))).head().getDouble(0))
      // lazy: flat plan now, materialized by the next agg
      auth = scope.checkpoint(verts.join(araw, Seq("id"), "left_outer")
        .select(col("id"), (coalesce(col("x"), lit(0.0)) / an).as("auth")), eager = false)
      // hub half: pull authority mass along out-edges
      val hraw = scope.persist(graph.edgesByDst
        .join(auth.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(sum("auth").as("x")))
      val hn = math.sqrt(hraw.agg(sum(col("x") * col("x"))).head().getDouble(0))
      hub = scope.checkpoint(verts.join(hraw, Seq("id"), "left_outer")
        .select(col("id"), (coalesce(col("x"), lit(0.0)) / hn).as("hub")), eager = false)
      // everything the PREVIOUS iteration pinned has now had its last read
      // (its hub checkpoint was materialized by this iteration's first agg)
      last.free()
      last = scope
    }
    hub.join(auth, "id").select(col("id"), col("hub"), col("auth"))
  }
}
