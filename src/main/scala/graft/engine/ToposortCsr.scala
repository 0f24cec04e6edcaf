package graft.engine

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

import GatherScatter.{IdPartitioner, PrGraph, RankBlock}

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
 * their 0/1 announcement.
 */
object ToposortCsr {

  private final case class TsState(inDeg: Array[Double], order: Array[Double],
                                   act: Array[Boolean])

  /** Per hot vertex: 1.0 when it announces this superstep (active ∧
    * in-degree 0), else 0.0. */
  private def hotAnnounce(g: PrGraph, st: RDD[TsState]): Array[Double] = {
    if (g.hotIds.isEmpty) return Array.emptyDoubleArray
    val pairs = st.zipPartitions(g.verts) { (sIt, vIt) =>
      val s = sIt.next(); val vm = vIt.next()
      Iterator.range(0, vm.hotHomeGlobal.length).map { i =>
        val li = vm.hotHomeLocal(i)
        (vm.hotHomeGlobal(i), if (s.act(li) && s.inDeg(li) == 0.0) 1.0 else 0.0)
      }
    }.collect()
    val arr = new Array[Double](g.hotIds.length)
    pairs.foreach { case (gi, d) => arr(gi) = d }
    arr
  }

  /** One gather of per-src values through the static exchange; `contrib`
    * is a dense per-local-src array, `hot` a per-global-hot array. Returns
    * fold sums for receivers (dense, 0 where nothing arrived), unmaterialized:
    * the caller's one job computes them, then calls the returned release. */
  private def countGather(g: PrGraph, contrib: RDD[Array[Double]],
                          hot: Array[Double]): (RDD[Array[Double]], () => Unit) = {
    val idPart = new IdPartitioner(g.numPartitions)
    val sc = g.csr.sparkContext
    val hotBc = sc.broadcast(hot)
    val gathered = contrib.zipPartitions(g.csr, preservesPartitioning = false) {
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
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val remote = gathered.mapPartitionsWithIndex(
        (p, itr) => itr.filter(_._1 != p), preservesPartitioning = false)
      .partitionBy(idPart)
    val acc = remote.zipPartitions(gathered, g.meta, preservesPartitioning = true) {
      (rIt, lIt, mIt) =>
        val (vm, inIdx) = mIt.next()
        val p = TaskContext.getPartitionId()
        val a = new Array[Double](vm.nRecv)
        @inline def fold(q: Int, vals: Array[Double]): Unit = {
          val idx = inIdx(q)
          var i = 0
          while (i < vals.length) { a(idx(i)) += vals(i); i += 1 }
        }
        lIt.foreach { case (tp, (q, vals)) => if (tp == p) fold(q, vals) }
        rIt.foreach { case (_, (q, vals)) => fold(q, vals) }
        Iterator.single(a)
    }
    (acc, () => { gathered.unpersist(blocking = false); hotBc.unpersist(blocking = false) })
  }

  /** Returns (order blocks — order −1 ⇒ on/behind a cycle, supersteps). */
  def run(g: PrGraph, maxIterations: Int = 1 << 20): (RDD[RankBlock], Int) = {
    val sc = g.csr.sparkContext
    // phase 1: in-degrees = one all-1s gather (the InDegree program)
    val ones = g.csr.mapPartitions(it =>
      Iterator.single(Array.fill(it.next().srcs.length)(1.0)),
      preservesPartitioning = true)
    val (inDeg0, releaseInDeg) = countGather(g, ones, Array.fill(g.hotIds.length)(1.0))
    var state: RDD[TsState] = inDeg0.zipPartitions(g.verts, preservesPartitioning = true) {
      (dIt, vIt) =>
        val d = dIt.next(); val vm = vIt.next()
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
        Iterator.single(TsState(inDeg, order, act))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    state.count()
    releaseInDeg()

    var it = 0
    var converged = false
    while (!converged && it < maxIterations) {
      val changedAcc = sc.longAccumulator(s"toposort-changed-$it")
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
      val (acc, releaseAcc) = countGather(g, announce, hotAnnounce(g, state))
      val iterLoc = it
      val next = acc.zipPartitions(state, g.verts, preservesPartitioning = true) {
        (aIt, sIt, vIt) =>
          val a = aIt.next(); val old = sIt.next(); val vm = vIt.next()
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
                if (old.inDeg(i) > 0.0 && nd == 0.0) (iterLoc + 1).toDouble
                else old.order(i)
              act(i) = true // in-degree moved (got > 0 ⇒ nd ≠ old)
              changed += 1
            } else {
              inDeg(i) = old.inDeg(i); order(i) = old.order(i); act(i) = false
            }
            i += 1
          }
          changedAcc.add(changed)
          Iterator.single(TsState(inDeg, order, act))
      }.persist(StorageLevel.MEMORY_AND_DISK)
      next.count()
      releaseAcc()
      state.unpersist(blocking = false)
      state = next
      it += 1
      converged = changedAcc.value == 0L
    }
    val out = state.zipPartitions(g.verts, preservesPartitioning = true) { (sIt, vIt) =>
      Iterator.single(RankBlock(vIt.next().ids, sIt.next().order))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    state.unpersist(blocking = false)
    (out, it)
  }
}
