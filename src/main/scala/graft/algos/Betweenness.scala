package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.LinkGraph
import graft.engine.{Activity, Direction, Reduce, Superstep, VertexProgramSpec}
import graft.functions.VectorSum.vector_sum

/**
 * Sampled-source betweenness centrality (Brandes 2001), batched: all K
 * sources run in lockstep through ONE pair of superstep programs whose
 * vertex state is K-wide arrays — the standard way to amortize Brandes'
 * per-source passes on a shared-nothing engine (K BFS trees per graph
 * traversal instead of K traversals).
 *
 * Two phases, both on the engine's 5-callback surface (no new primitives):
 *
 *  1. FORWARD — K simultaneous unit-weight BFS computing depth_k(v) and
 *     sigma_k(v) (# shortest s_k→v paths). All sources advance levels in
 *     lockstep, so "settled this superstep" is one boolean per k and the ⊕
 *     is the native `vector_sum` elementwise aggregate (one shuffle per
 *     superstep at 1/K the rows of a per-source explode).
 *  2. BACKWARD — dependency accumulation by strictly DESCENDING depth:
 *     at level t each settled-at-t vertex w sends (1+delta_k(w))/sigma_k(w)
 *     along IN-edges; a receiver v folds sigma_k(v)·Σmsgs iff
 *     depth_k(v) = t−1 (exactly the shortest-path-DAG predecessors —
 *     an edge v→w with depth(w)=depth(v)+1 is a DAG edge by definition).
 *     The level countdown rides a `lvl` state column so the send gate
 *     needs no iteration plumbing; the run is a fixed maxDepth iterations.
 *
 * Returns (id, bc) where bc(v) = Σ_k delta_k(v), v ≠ s_k — exact directed
 * betweenness restricted to the sampled sources (the Brandes-pivot
 * estimator; with all vertices as sources it is exact betweenness).
 *
 * 100 TB shape: state is |V|·K doubles, messages shuffle once per level,
 * map-side partial `vector_sum` bounds hub fan-in, and supersteps =
 * 2·eccentricity(sources) — the right plan for small-world link graphs.
 * Beyond the reference's bundled apps (GraphMat ships no betweenness); the
 * same run_graph_program loop expresses it (`include/GraphProgram.h:38-101`
 * is the 5-callback surface this rides).
 */
object Betweenness {

  /** K zero doubles. */
  private def zeros(k: Int): Column = array(Seq.fill(k)(lit(0.0)): _*)

  /**
   * Betweenness restricted to `sources` (distinct vertex ids). Output:
   * (id, bc: double) for every vertex of `graph`.
   */
  def run(graph: LinkGraph, sources: Seq[Long]): DataFrame = {
    require(sources.nonEmpty && sources.distinct.size == sources.size,
      "sources must be non-empty and distinct")
    val k = sources.size
    val srcArr = array(sources.map(lit): _*)

    // ---- forward: lockstep K-source BFS (depth + path counts) ----
    val init = graph.vertices.select(
      col("id"),
      col("id").isInCollection(sources).as("active"),
      transform(srcArr, s => when(col("id") === s, 0).otherwise(-1)).as("dep"),
      transform(srcArr, s => when(col("id") === s, 1.0).otherwise(0.0)).as("sig"),
      transform(srcArr, s => col("id") === s).as("just"))

    val fwd = VertexProgramSpec(
      direction = Direction.Out,
      activity = Activity.ActiveOnly,
      send = fr => fr.select(col("id"),
        zip_with(col("just"), col("sig"),
          (j, s) => when(j, s).otherwise(0.0)).as("m")),
      reduce = Reduce.byAggs(vector_sum(col("m")).as("acc")),
      apply = (df, iter) => {
        val acc = coalesce(col("acc"), zeros(k))
        // newly settled: unreached before, received path counts this step
        val just2 = zip_with(col("dep"), acc, (d, a) => d === -1 && a > 0)
        df.select(
          col("id"),
          exists(just2, x => x).as("active"),
          zip_with(col("dep"), acc,
            (d, a) => when(d === -1 && a > 0, lit(iter + 1)).otherwise(d)).as("dep"),
          zip_with(zip_with(col("dep"), col("sig"), (d, s) => struct(d.as("d"), s.as("s"))),
            acc,
            (ds, a) => when(ds.getField("d") === -1 && a > 0, a)
              .otherwise(ds.getField("s"))).as("sig"),
          just2.as("just"),
          exists(just2, x => x).as("_changed"))
      })
    val fwdRun = Superstep.run(graph, init, fwd)
    val forward = fwdRun.state

    val maxRow = forward.agg(max(array_max(col("dep")))).head()
    val maxD = if (maxRow.isNullAt(0)) 0 else maxRow.getInt(0)
    if (maxD <= 0) {
      // sources reach nothing (or the graph is empty): betweenness is zero
      val out = forward.select(col("id"), lit(0.0).as("bc")).localCheckpoint()
      fwdRun.release()
      return out
    }

    // ---- backward: dependency accumulation, levels maxD .. 1 ----
    val bInit = forward.select(
      col("id"), lit(true).as("active"), col("dep"), col("sig"),
      zeros(k).as("dlt"), lit(maxD).as("lvl"))

    val bwd = VertexProgramSpec(
      direction = Direction.In,
      activity = Activity.AllVertices,
      send = fr => fr
        .filter(exists(col("dep"), d => d === col("lvl")))
        .select(col("id"),
          zip_with(col("dep"), zip_with(col("dlt"), col("sig"),
              (dl, sg) => struct(dl.as("dl"), sg.as("sg"))),
            (d, x) => when(d === col("lvl") && x.getField("sg") > 0,
              (lit(1.0) + x.getField("dl")) / x.getField("sg")).otherwise(0.0)).as("m")),
      reduce = Reduce.byAggs(vector_sum(col("m")).as("acc")),
      apply = (df, _) => {
        val acc = coalesce(col("acc"), zeros(k))
        df.select(
          col("id"), col("active"), col("dep"), col("sig"),
          zip_with(zip_with(col("dep"), col("sig"), (d, s) => struct(d.as("d"), s.as("s"))),
            zip_with(col("dlt"), acc, (dl, a) => struct(dl.as("dl"), a.as("a"))),
            (ds, da) => when(ds.getField("d") === col("lvl") - 1,
              da.getField("dl") + ds.getField("s") * da.getField("a"))
              .otherwise(da.getField("dl"))).as("dlt"),
          (col("lvl") - 1).as("lvl"),
          lit(true).as("_changed"))
      },
      maxIterations = maxD,
      trackChanges = false)
    val back = Superstep.run(graph, bInit, bwd).state
    // backward's supersteps are all materialized (eager per-superstep
    // checkpoints) — the forward state has no remaining reader
    fwdRun.release()

    // bc(v) = sum_k delta_k(v), excluding each source's own row
    back.select(col("id"),
      aggregate(
        zip_with(col("dlt"), srcArr,
          (d, s) => when(col("id") === s, 0.0).otherwise(d)),
        lit(0.0), (a, x) => a + x).as("bc"))
  }
}
