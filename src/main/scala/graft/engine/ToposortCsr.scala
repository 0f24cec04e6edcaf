package graft.engine

import org.apache.spark.rdd.RDD

import GatherScatter.{Plus, PrGraph, RankBlock, Sum, VertexMeta, iterate, program}

/**
 * Topological sort (Kahn peel) on the CSR gather-scatter structures —
 * `src/TopologicalSort.cpp:39-206` on the throughput path, the frontier
 * program the column engine runs as [[graft.algos.TopologicalSort]]:
 *
 *   phase 1: in-degree (every vertex sends 1 — the InDegree program);
 *   init: in-degree-0 vertices take order 0 and start active.
 *   Iterate: just-peeled vertices (active ∧ in_degree == 0) announce 1
 *   along OUT edges; receivers subtract the count, take order =
 *   superstep index when their remaining in-degree reaches 0, and stay
 *   active while their in-degree moved. Cycles leave order = −1 (the
 *   reference's MAX_DIST sentinel, `:177-184`).
 *
 * Per-vertex sparse frontier like [[DeltaPrCsr]] (sum ⊕, not idempotent);
 * contributions are 0/1 counts so "received ⇔ fold sum > 0" is exact —
 * the column engine's join-matched ∧ acc>0 test. Both passes are one
 * `GatherScatter.program` each with ⊕ = Sum and ⊗ = `Plus(0.0)`: the
 * kernel supplies the 0/1 send rule and the apply, and `program` owns
 * the hub mirror, the gather, the exchange and the fold. The superstep
 * loop is `GatherScatter.iterate`.
 */
object ToposortCsr {

  private final case class TsState(inDeg: Array[Double], order: Array[Double],
                                   act: Array[Boolean])

  /** Returns (order blocks — order −1 ⇒ on/behind a cycle, supersteps). */
  def run(g: PrGraph, maxIterations: Int = 1 << 20): (RDD[RankBlock], Int) = {
    // phase 1: in-degrees, every vertex sending 1.0 (the InDegree program)
    val ones = (vm: VertexMeta) => Array.fill(vm.ids.length)(1.0)
    val init = program(g, g.verts, Sum, Plus(0.0), g.verts)(ones) { (vm, d, _) =>
      val n = vm.ids.length
      val inDeg = new Array[Double](n)
      System.arraycopy(d, 0, inDeg, 0, vm.nRecv) // src-only vertices: 0
      val order = new Array[Double](n)
      val act = new Array[Boolean](n)
      var i = 0
      while (i < n) {
        if (inDeg(i) == 0.0) { order(i) = 0.0; act(i) = true }
        else order(i) = -1.0
        i += 1
      }
      TsState(inDeg, order, act)
    }
    // the just-peeled vertices (active ∧ in-degree 0) announce 1.0
    val peeled = (s: TsState) => {
      val m = new Array[Double](s.act.length)
      var any = false
      var i = 0
      while (i < m.length) {
        if (s.act(i) && s.inDeg(i) == 0.0) { m(i) = 1.0; any = true }
        i += 1
      }
      if (any) m else null
    }
    iterate(g, init, maxIterations, counted = true)((ids, s) => RankBlock(ids, s.order)) {
      (state, it, changedAcc) =>
        program(g, state, Sum, Plus(0.0), state)(peeled) { (vm, a, old) =>
          val n = vm.ids.length
          val inDeg = new Array[Double](n)
          val order = new Array[Double](n)
          val act = new Array[Boolean](n)
          var changed = 0L
          var i = 0
          while (i < n) {
            val got = if (i < vm.nRecv) a(i) else 0.0
            if (got > 0.0) { // received ∧ acc>0 (counts are 0/1 sums)
              val nd = old.inDeg(i) - got
              inDeg(i) = nd
              order(i) =
                if (old.inDeg(i) > 0.0 && nd == 0.0) (it + 1).toDouble
                else old.order(i)
              act(i) = true // in-degree moved (got > 0 ⇒ nd ≠ old)
              changed += 1
            } else {
              inDeg(i) = old.inDeg(i); order(i) = old.order(i); act(i) = false
            }
            i += 1
          }
          changedAcc.add(changed)
          TsState(inDeg, order, act)
        }
    }
  }
}
