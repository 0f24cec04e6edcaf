package graft.engine

import org.apache.spark.rdd.RDD

import GatherScatter.{PrGraph, RankBlock, Sum, exchange, fold, gather, hotValues, iterate, mirror}

/**
 * Topological sort (Kahn peel) on the CSR gather-scatter structures —
 * `src/TopologicalSort.cpp:39-206` on the throughput path, the frontier
 * program the column engine runs as [[graft.algos.TopologicalSort]]:
 *
 *   phase 1: in-degree (one all-active gather of 1s — the InDegree
 *   program); init: in-degree-0 vertices take order 0 and start active.
 *   Iterate: just-peeled vertices (active ∧ in_degree == 0) announce 1
 *   along OUT edges; receivers subtract the count, take order =
 *   superstep index when their remaining in-degree reaches 0, and stay
 *   active while their in-degree moved. Cycles leave order = −1 (the
 *   reference's MAX_DIST sentinel, `:177-184`).
 *
 * Per-vertex sparse frontier like [[DeltaPrCsr]] (sum ⊕, not idempotent);
 * contributions are 0/1 counts so "received ⇔ fold sum > 0" is exact —
 * the column engine's join-matched ∧ acc>0 test. Both passes are
 * `GatherScatter.gather` with ⊕ = Sum: the kernel supplies the 0/1
 * announcement per local source (null when no source here announces), and
 * hub sources broadcast theirs through `GatherScatter.mirror` (phase 1's
 * hub contribution is the constant 1.0, built in the task). The exchange
 * and the superstep loop are `GatherScatter.exchange` and
 * `GatherScatter.iterate`.
 */
object ToposortCsr {

  private final case class TsState(inDeg: Array[Double], order: Array[Double],
                                   act: Array[Boolean])

  private def ones(n: Int): Array[Double] = {
    val a = new Array[Double](n)
    java.util.Arrays.fill(a, 1.0)
    a
  }

  /** Returns (order blocks — order −1 ⇒ on/behind a cycle, supersteps). */
  def run(g: PrGraph, maxIterations: Int = 1 << 20): (RDD[RankBlock], Int) = {
    // phase 1: in-degrees = one all-1s gather (the InDegree program)
    val init = exchange(g, gather(g, g.verts, Sum)(
        (_, blk, _) => ones(blk.srcs.length), blk => ones(blk.hotLocal.length)), null) {
      (vm, inIdx, blocks, _: Null) =>
        val d = fold(Sum, vm.nRecv, inIdx, blocks)
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
    iterate(g, init, maxIterations, counted = true)((ids, s) => RankBlock(ids, s.order)) {
      (state, it, changedAcc) =>
        // the just-peeled vertices (active ∧ in-degree 0) announce 1.0
        val hotBc = mirror(g, state)(
          (s, ls) => ls.map(li => if (s.act(li) && s.inDeg(li) == 0.0) 1.0 else 0.0))
        val gathered = gather(g, state, Sum)((s, blk, vm) => {
          val c = new Array[Double](blk.srcs.length)
          var any = false
          var i = 0
          while (i < c.length) {
            val li = vm.srcPrIdx(i)
            if (s.act(li) && s.inDeg(li) == 0.0) { c(i) = 1.0; any = true }
            i += 1
          }
          if (any) c else null
        }, blk => hotValues(blk, hotBc.value))
        exchange(g, gathered, state, hotBc) {
          (vm, inIdx, blocks, old) =>
            val a = fold(Sum, vm.nRecv, inIdx, blocks)
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
