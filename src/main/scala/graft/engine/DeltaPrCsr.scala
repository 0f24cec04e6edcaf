package graft.engine

import org.apache.spark.rdd.RDD

import GatherScatter.{PrGraph, RankBlock, Step, Sum, exchange, fold, gather, hotValues, iterate,
  mirror}

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
 * the gather multiplies each source's contribution by its mask, and a
 * block with no positive sum is not shipped.
 * "Received" detection rides an invariant of the program: deltas are
 * strictly positive (init 0.3; d1 = (1−α)·Σ of positive messages; senders
 * are vertices whose rank moved, so their delta exceeds the 1e-8 gate), so
 * a receiver's fold sum is > 0 iff at least one active in-neighbor sent —
 * exactly the column engine's join-matched test, with no extra mask bytes
 * in the exchange.
 *
 * The gather is `GatherScatter.gather` with ⊕ = Sum: the kernel supplies
 * the masked delta·invDeg per local source (null when no source here is
 * active). Hub (degree-split) sources broadcast their delta masked by
 * activity (`GatherScatter.mirror`), scaled by invDeg per hot source. The
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
    val init = g.verts.mapPartitions({ it =>
      val vm = it.next()
      val n = vm.ids.length
      Iterator.single(DprState(Array.fill(n)(0.3), Array.fill(n)(0.3),
        Array.fill(n)(true)))
    }, preservesPartitioning = true)
    iterate(g, Step(init), maxIterations, counted = true)((ids, s) => RankBlock(ids, s.pr)) {
      (state, _, changedAcc) =>
        // hub mirror: per hot vertex, its masked delta (0.0 when inactive —
        // contributes nothing, keeping "received ⇔ sum>0"); the gather
        // multiplies it by the hub's 1/globalDegree
        val hotBc = mirror(g, state)(
          (s, ls) => ls.map(li => if (s.act(li)) s.delta(li) else 0.0))
        val gathered = gather(g, state, Sum)((s, blk, vm) => {
          // masked contribution per local src: delta·invDeg, 0 when inactive
          val c = new Array[Double](blk.srcs.length)
          var any = false
          var i = 0
          while (i < c.length) {
            val li = vm.srcPrIdx(i)
            if (s.act(li)) { c(i) = s.delta(li) * blk.invDeg(i); any = true }
            i += 1
          }
          if (any) c else null
        }, blk => hotValues(blk, hotBc.value, perDegree = true))
        exchange(g, gathered, state, hotBc) { (vm, inIdx, blocks, old) =>
          val acc = fold(Sum, vm.nRecv, inIdx, blocks)
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
  }
}
