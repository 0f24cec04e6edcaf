package graft.engine

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD

import GatherScatter.{PrGraph, RankBlock, exchange, foldSum, hubMirror, iterate, materialize}

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
 * the column engine's join-matched ∧ acc>0 test. Hub sources broadcast
 * their 0/1 announcement. The exchange and the superstep loop are
 * `GatherScatter.exchange` and `GatherScatter.iterate`.
 */
object ToposortCsr {

  private final case class TsState(inDeg: Array[Double], order: Array[Double],
                                   act: Array[Boolean])

  /** The gather of per-src values through the static exchange: `contrib`
    * is a dense per-local-src array, `hotBc` a per-global-hot array. Emits
    * only the blocks holding a positive sum — the sparse frontier. */
  private def countGather(g: PrGraph, contrib: RDD[Array[Double]],
                          hotBc: Broadcast[Array[Double]])
      : RDD[(Int, (Int, Array[Double]))] =
    contrib.zipPartitions(g.csr, preservesPartitioning = false) {
      (cIt, bIt) =>
        val c = cIt.next(); val blk = bIt.next()
        val p = TaskContext.getPartitionId()
        var any = false
        var i = 0
        while (i < c.length && !any) { if (c(i) != 0.0) any = true; i += 1 }
        val hp = hotBc.value
        var anyHot = false
        if (blk.hotEdgeSrcIdx.length > 0) {
          var h = 0
          while (h < blk.hotLocal.length && !anyHot) {
            if (hp(blk.hotLocal(h)) != 0.0) anyHot = true
            h += 1
          }
        }
        val out = new Array[Array[Double]](blk.outIds.length)
        if (any) {
          var tp = 0
          while (tp < blk.outIds.length) {
            val ids = blk.outIds(tp)
            if (ids != null) {
              val vals = new Array[Double](ids.length)
              val es = blk.edgeSrcIdx(tp); val eo = blk.edgeOutIdx(tp)
              var e = 0
              while (e < es.length) { vals(eo(e)) += c(es(e)); e += 1 }
              out(tp) = vals
            }
            tp += 1
          }
        }
        if (anyHot) {
          if (out(p) == null) out(p) = new Array[Double](
            if (blk.outIds(p) == null) 0 else blk.outIds(p).length)
          val vals = out(p)
          val hs = blk.hotEdgeSrcIdx; val ho = blk.hotEdgeOutIdx
          var e = 0
          while (e < hs.length) { vals(ho(e)) += hp(blk.hotLocal(hs(e))); e += 1 }
        }
        Iterator.range(0, out.length).filter { tp =>
          val v = out(tp)
          v != null && { var j = 0; var nz = false
            while (j < v.length && !nz) { if (v(j) > 0.0) nz = true; j += 1 }; nz }
        }.map(tp => (tp, (p, out(tp))))
    }

  /** Returns (order blocks — order −1 ⇒ on/behind a cycle, supersteps). */
  def run(g: PrGraph, maxIterations: Int = 1 << 20): (RDD[RankBlock], Int) = {
    val sc = g.csr.sparkContext
    // phase 1: in-degrees = one all-1s gather (the InDegree program)
    val ones = g.csr.mapPartitions(it =>
      Iterator.single(Array.fill(it.next().srcs.length)(1.0)),
      preservesPartitioning = true)
    val allHot = sc.broadcast(Array.fill(g.hotIds.length)(1.0))
    val init = exchange(g, countGather(g, ones, allHot), null, allHot) {
      (vm, inIdx, blocks, _: Null) =>
        val d = foldSum(vm.nRecv, inIdx, blocks)
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
    val (state, it) = iterate(g, init, maxIterations, counted = true) {
      (state, it, changedAcc) =>
        val announce = state.zipPartitions(g.verts, g.csr, preservesPartitioning = true) {
          (sIt, vIt, bIt) =>
            val s = sIt.next(); val vm = vIt.next(); val blk = bIt.next()
            val c = new Array[Double](blk.srcs.length)
            var i = 0
            while (i < c.length) {
              val li = vm.srcPrIdx(i)
              if (s.act(li) && s.inDeg(li) == 0.0) c(i) = 1.0
              i += 1
            }
            Iterator.single(c)
        }
        // per hot vertex: 1.0 when it announces this superstep (active ∧
        // in-degree 0), else 0.0
        val hotBc = sc.broadcast(hubMirror(g, state)(
          (s, ls) => ls.map(li => if (s.act(li) && s.inDeg(li) == 0.0) 1.0 else 0.0)))
        exchange(g, countGather(g, announce, hotBc), state, hotBc) {
          (vm, inIdx, blocks, old) =>
            val a = foldSum(vm.nRecv, inIdx, blocks)
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
    (materialize(g, state)(_.order), it)
  }
}
