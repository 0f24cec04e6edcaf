package graft.engine

import org.apache.spark.rdd.RDD

import GatherScatter.{PerDegree, PrGraph, RankBlock, Step, Sum, iterate, program}

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
 * The frontier is PER VERTEX, as in the (min,+) kernel and the peel: only
 * an active vertex sends its delta (the rest send 0.0), and a block with no
 * positive sum is not shipped. Sum ⊕ would count a resent delta twice, so
 * here the frontier is needed for correctness, not only to save work.
 * "Received" detection rides an invariant of the program: deltas are
 * strictly positive (init 0.3; d1 = (1−α)·Σ of positive messages; senders
 * are vertices whose rank moved, so their delta exceeds the 1e-8 gate), so
 * a receiver's fold sum is > 0 iff at least one active in-neighbor sent —
 * exactly the column engine's join-matched test, with no extra mask bytes
 * in the exchange.
 *
 * A superstep is one `GatherScatter.program` with ⊕ = Sum and ⊗ =
 * `PerDegree`: the kernel supplies the send rule and the apply. The
 * superstep loop and its changed==0 stop rule are `GatherScatter.iterate`.
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
    val send = (s: DprState) => {
      val m = new Array[Double](s.delta.length)
      var any = false
      var i = 0
      while (i < m.length) {
        if (s.act(i)) { m(i) = s.delta(i); any = true }
        i += 1
      }
      if (any) m else null
    }
    iterate(g, Step(init), maxIterations, counted = true)((ids, s) => RankBlock(ids, s.pr)) {
      (state, _, changedAcc) =>
        program(g, state, Sum, PerDegree, state)(send) { (vm, acc, old) =>
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
