package graft.engine

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD

import GatherScatter.{PrGraph, RankBlock, Step, exchange, foldSum, hubMirror, iterate, materialize}

/**
 * Incremental (delta) PageRank on the CSR gather-scatter structures —
 * `src/IncrementalPageRank.cpp:33-185` on the throughput path, the
 * ACTIVE_ONLY frontier program the column engine runs as
 * [[graft.algos.DeltaPageRank]]:
 *
 *   state dPR{pagerank=0.3, delta=0.3, active}; OUT_EDGES; active vertices
 *   send delta/outdeg; ⊕ = sum; apply (receivers only): reset delta when
 *   |delta|>1e-8, delta += (1−α)·Σ, fold into pagerank when |delta|>1e-8;
 *   active' ⇔ |Δpagerank| > 1e-8. Fixpoint when no vertex changes.
 *
 * Unlike the (min,+) kernel's partition-granularity frontier (sound there
 * because min is idempotent — resending can't corrupt), sum ⊕ would
 * double-count a resent delta, so the frontier here is a PER-VERTEX mask:
 * the gather multiplies each source's contribution by its mask and a
 * partition with no active sources (and no active hubs) emits nothing.
 * "Received" detection rides an invariant of the program: deltas are
 * strictly positive (init 0.3; d1 = (1−α)·Σ of positive messages; senders
 * are vertices whose rank moved, so their delta exceeds the 1e-8 gate), so
 * a receiver's fold sum is > 0 iff at least one active in-neighbor sent —
 * exactly the column engine's join-matched test, with no extra mask bytes
 * in the exchange.
 *
 * Hub (degree-split) sources broadcast their delta masked by activity
 * (`GatherScatter.hubMirror`); the edge site multiplies it by invDeg. The
 * exchange, the superstep loop and its changed==0 stop rule are
 * `GatherScatter.exchange` and `GatherScatter.iterate`.
 *
 * Boundary: warm-starting after a GRAPH CHANGE
 * ([[graft.algos.DeltaPageRank.warmStart]]) lives on the column engine only.
 * Warm-start seeds are fixpoint residuals, which can be NEGATIVE (an edge
 * removal, or a source gaining out-degree, lowers contributions) — that
 * breaks the strictly-positive-delta invariant this kernel's exchange
 * exploits for "received ⇔ sum > 0" (a negative and a positive contribution
 * can cancel to ≤ 0 and mis-read as "nothing received"). Supporting it here
 * would mean shipping an explicit presence mask per emitted block; until a
 * workload needs warm restarts at CSR throughput, the honest answer is the
 * column path, whose join-matched received detection is exact for any sign.
 */
object DeltaPrCsr {

  /** (pagerank, delta, active) per partition, aligned to VertexMeta.ids. */
  private final case class DprState(pr: Array[Double], delta: Array[Double],
                                    act: Array[Boolean])

  def run(g: PrGraph, alpha: Double = 0.3, maxIterations: Int = 1 << 20)
      : (RDD[RankBlock], Int) = {
    val sc = g.csr.sparkContext
    val init = g.verts.mapPartitions({ it =>
      val vm = it.next()
      val n = vm.ids.length
      Iterator.single(DprState(Array.fill(n)(0.3), Array.fill(n)(0.3),
        Array.fill(n)(true)))
    }, preservesPartitioning = true)
    val (state, it) = iterate(g, Step(init), maxIterations, counted = true) {
      (state, _, changedAcc) =>
        // hub mirror: per hot vertex, its masked delta (0.0 when inactive —
        // contributes nothing, keeping "received ⇔ sum>0"); multiplied by the
        // hub's 1/globalDegree at the edge site
        val hotBc = sc.broadcast(hubMirror(g, state)(
          (s, ls) => ls.map(li => if (s.act(li)) s.delta(li) else 0.0)))
        val gathered = state.zipPartitions(g.csr, g.verts, preservesPartitioning = false) {
          (sIt, cIt, vIt) =>
            val s = sIt.next(); val blk = cIt.next(); val vm = vIt.next()
            val p = TaskContext.getPartitionId()
            val nS = blk.srcs.length
            // masked contribution per local src: delta·invDeg, 0 when inactive
            val contrib = new Array[Double](nS)
            var any = false
            var i = 0
            while (i < nS) {
              val li = vm.srcPrIdx(i)
              if (s.act(li)) { contrib(i) = s.delta(li) * blk.invDeg(i); any = true }
              i += 1
            }
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
                  while (e < es.length) { vals(eo(e)) += contrib(es(e)); e += 1 }
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
              while (e < hs.length) {
                vals(ho(e)) += hp(blk.hotLocal(hs(e))) * blk.hotLocalInvDeg(hs(e))
                e += 1
              }
            }
            // emit only blocks with at least one positive sum — sparse frontier
            Iterator.range(0, out.length).filter { tp =>
              val v = out(tp)
              v != null && { var j = 0; var nz = false
                while (j < v.length && !nz) { if (v(j) > 0.0) nz = true; j += 1 }; nz }
            }.map(tp => (tp, (p, out(tp))))
        }
        exchange(g, gathered, state, hotBc) { (vm, inIdx, blocks, old) =>
          val acc = foldSum(vm.nRecv, inIdx, blocks)
          val n = vm.ids.length
          val pr = new Array[Double](n)
          val dl = new Array[Double](n)
          val ac = new Array[Boolean](n)
          var changed = 0L
          var i = 0
          while (i < n) {
            if (i < vm.nRecv && acc(i) > 0.0) { // received (deltas positive)
              val d0 = if (math.abs(old.delta(i)) > 1e-8) 0.0 else old.delta(i)
              val d1 = d0 + (1.0 - alpha) * acc(i)
              val np = if (math.abs(d1) > 1e-8) old.pr(i) + d1 else old.pr(i)
              pr(i) = np; dl(i) = d1
              val ch = math.abs(np - old.pr(i)) > 1e-8
              ac(i) = ch
              if (ch) changed += 1
            } else {
              pr(i) = old.pr(i); dl(i) = old.delta(i); ac(i) = false
            }
            i += 1
          }
          changedAcc.add(changed)
          DprState(pr, dl, ac)
        }
    }
    (materialize(g, state)(_.pr), it)
  }
}
