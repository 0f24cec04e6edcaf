package graft.engine

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import GatherScatter.{CsrBlock, IdPartitioner, PrGraph, Step, VertexMeta, exchange, hubMirror,
  initState, iterate}

/**
 * K-vector-payload supersteps on the CSR gather-scatter structures — the
 * 3-operand program form (GraphMat's SpMSpV3: ⊗ sees the RECEIVER's
 * property, `GraphMatRuntime.h:195-225` process-message with vertexprop)
 * on the throughput path. The scalar kernel ships one pre-summed double
 * per (source block, unique dst); a 3-op program cannot pre-reduce at the
 * source without the receiver's state, so each superstep here runs the
 * exchange GraphMat's multinode SpMV runs (`multinode/spmspv.h:62-203`):
 *
 *  1. mirror phase ("broadcast x to column ranks"): every partition packs
 *     the CURRENT K-vectors of the receivers each source block will touch —
 *     the per-(source, target) unique-dst tables and incoming-index tables
 *     built once by [[GatherScatter.build]] already name exactly those
 *     vertices — and ships them to the edge-holding partitions;
 *  2. gather: per-edge ⊗(srcVec, weight, dstVec) computed where the edges
 *     live, pre-summed (⊕ = elementwise vector add) into one K-slot per
 *     unique dst — hub fan-in stays structurally two-phase;
 *  3. the row-reduce all-to-all: the scalar kernel's split exchange
 *     (`GatherScatter.exchange`), K-wide, folded through the static
 *     incoming-index tables, then the dense apply. The superstep loop is
 *     `GatherScatter.iterate`.
 *
 * Cross-executor bytes per superstep = 2 × (partition cut) × K doubles
 * (mirrors out, contributions back) — exactly GraphMat's x-broadcast +
 * y-reduce volume in the general case. A cut-free layout
 * ([[GatherScatter.PrGraph.cut]] = 0, e.g. conversation co-location) runs
 * neither shuffle: every receiver vector is local and the exchange is a
 * narrow zip. 2-op vector programs ([[VecKernel.needsRecv]] = false, e.g.
 * the LDA init pass) skip the mirror phase entirely and pay the scalar
 * kernel's single exchange, K-wide.
 *
 * Hot (degree-split) srcs ride the existing mirror broadcast, K-wide: their
 * edges live with the RECEIVER partition, so the dst vectors are local and
 * only the hub's own K-vector arrives by broadcast.
 *
 * Instantiated for the reference's two vector-state programs:
 *  - SGD matrix factorization (`src/SGD.cpp:36-236`): ⊗ = srcLv · (rating −
 *    ⟨srcLv, dstLv⟩), ⊕ = vector sum, apply: lv += step·(−λ·lv + Σ);
 *  - LDA (`src/LDA.cpp:36-192`): init pass (gamma-normalized edge-count
 *    vectors, seeded by the edge VALUE so both directions agree) then
 *    iterate passes gamma_i ∝ (recv+off−1)(msg+off'−1)/globalN, normalized
 *    per edge × count, REPLACING the receiver's vector; the global topic
 *    vector is refreshed between supersteps (do_every_iteration).
 * Semantics are verified against the column engine's 3-op programs
 * (SgdCsrSpec / LdaCsrSpec); the IEEE op ORDER of ⊗ and apply matches the
 * column engine's expressions exactly, so the only divergence source is
 * ⊕ fold order.
 */
object VectorSuperstep {

  /** A K-vector vertex program. One instance is shared by all tasks — keep
    * implementations stateless (use `scratch`, allocated per task). */
  abstract class VecKernel(val k: Int) extends Serializable {
    /** 3-op (⊗ reads the receiver's vector)? false skips the mirror phase
      * and `recv` arrives null. */
    def needsRecv: Boolean = true
    /** Per-edge ⊗, accumulated (⊕ = vector add) into acc[aOff, aOff+k). */
    def edge(src: Array[Double], sOff: Int, srcId: Long, w: Double,
             recv: Array[Double], dOff: Int, recvId: Long,
             acc: Array[Double], aOff: Int,
             globals: Array[Double], scratch: Array[Double]): Unit
    /** Per-receiver apply: write out[off, off+k) from old and acc (same
      * offset — receivers occupy the layout prefix). Default: replace. */
    def applyRecv(old: Array[Double], acc: Array[Double], out: Array[Double],
                  off: Int, id: Long, globals: Array[Double]): Unit =
      System.arraycopy(acc, off, out, off, k)
  }

  /** Phase 1: ship each source block the receiver vectors its edges need —
    * packed in the SAME order as its unique-dst table, so the gather indexes
    * them positionally (the incoming-index table run in reverse). Self
    * mirrors are packed locally inside the gather instead (split exchange). */
  private def mirrorPhase(state: RDD[Array[Double]], g: PrGraph, k: Int)
      : RDD[(Int, (Int, Array[Double]))] =
    state.zipPartitions(g.meta, preservesPartitioning = false) { (sIt, mIt) =>
      val st = sIt.next(); val (_, inIdx) = mIt.next()
      val tp = TaskContext.getPartitionId()
      Iterator.range(0, inIdx.length)
        .filter(q => q != tp && inIdx(q) != null)
        .map { q =>
          val idx = inIdx(q)
          val m = new Array[Double](idx.length * k)
          var j = 0
          while (j < idx.length) {
            System.arraycopy(st, idx(j) * k, m, j * k, k)
            j += 1
          }
          (q, (tp, m))
        }
    }

  /** One synchronous vector superstep (lazy; [[GatherScatter.iterate]]
    * runs it and frees its handles). */
  private def step(g: PrGraph, state: RDD[Array[Double]], kern: VecKernel,
                   globalsArr: Array[Double]): Step[Array[Double]] = {
    val sc = state.sparkContext
    val k = kern.k
    val idPart = new IdPartitioner(g.numPartitions)
    // K-wide hub mirror: the (few) hot vertices' vectors
    val hotBc = sc.broadcast(hubMirror(g, state, k)(
      (st, ls) => ls.flatMap(li => st.slice(li * k, li * k + k))))
    val globalsBc = sc.broadcast(globalsArr)
    val hotIdsLoc = g.hotIds
    // a 2-op kernel needs no mirrors, and on a cut-free layout every
    // receiver is local, so the mirror phase would ship nothing: both skip
    // its shuffle
    val mirrors: RDD[(Int, (Int, Array[Double]))] =
      if (kern.needsRecv && g.cut != 0) mirrorPhase(state, g, k).partitionBy(idPart)
      else null
    val gather = (mIt: Iterator[(Int, (Int, Array[Double]))], sIt: Iterator[Array[Double]],
                  cIt: Iterator[CsrBlock], metaIt: Iterator[(VertexMeta, Array[Array[Int]])]) => {
      val st = sIt.next(); val blk = cIt.next(); val (vm, inIdx) = metaIt.next()
      val gl = globalsBc.value
      val scratch = new Array[Double](k)
      val p = TaskContext.getPartitionId()
      val need = kern.needsRecv
      val recvVecs = new Array[Array[Double]](blk.outIds.length)
      mIt.foreach { case (_, (tp, m)) => recvVecs(tp) = m }
      if (need && blk.outIds(p) != null) { // self mirror: local state
        val idx = inIdx(p)
        val m = new Array[Double](idx.length * k)
        var j = 0
        while (j < idx.length) {
          System.arraycopy(st, idx(j) * k, m, j * k, k)
          j += 1
        }
        recvVecs(p) = m
      }
      // local src vectors, gathered once into edge-index order
      val nS = blk.srcs.length
      val srcVec = new Array[Double](nS * k)
      var i = 0
      while (i < nS) {
        System.arraycopy(st, vm.srcPrIdx(i) * k, srcVec, i * k, k)
        i += 1
      }
      val out = new Array[Array[Double]](blk.outIds.length)
      var tp = 0
      while (tp < blk.outIds.length) {
        val ids = blk.outIds(tp)
        if (ids != null) {
          val acc = new Array[Double](ids.length * k)
          val es = blk.edgeSrcIdx(tp); val eo = blk.edgeOutIdx(tp)
          val ew = if (blk.edgeW == null) null else blk.edgeW(tp)
          val rv = recvVecs(tp)
          if (need && rv == null) throw GatherScatter.cutFree(p, tp)
          var e = 0
          while (e < es.length) {
            val si = es(e); val oi = eo(e)
            kern.edge(srcVec, si * k, blk.srcs(si),
              if (ew == null) 1.0 else ew(e),
              rv, oi * k, ids(oi),
              acc, oi * k, gl, scratch)
            e += 1
          }
          out(tp) = acc
        }
        tp += 1
      }
      // hub-shard edges: src vector from the broadcast mirror; dst is
      // LOCAL (they were routed here by dst) — fold into the self bucket
      if (blk.hotEdgeSrcIdx.length > 0) {
        val hv = hotBc.value
        val acc = out(p); val rv = recvVecs(p); val ids = blk.outIds(p)
        val hs = blk.hotEdgeSrcIdx; val ho = blk.hotEdgeOutIdx
        val hw = blk.hotEdgeW
        var e = 0
        while (e < hs.length) {
          val hi = blk.hotLocal(hs(e)); val oi = ho(e)
          kern.edge(hv, hi * k, hotIdsLoc(hi),
            if (hw == null) 1.0 else hw(e),
            rv, oi * k, ids(oi),
            acc, oi * k, gl, scratch)
          e += 1
        }
      }
      Iterator.range(0, out.length).filter(out(_) != null)
        .map(tp => (tp, (p, out(tp))))
    }
    val gathered: RDD[(Int, (Int, Array[Double]))] =
      if (mirrors == null)
        state.zipPartitions(g.csr, g.meta, preservesPartitioning = false) {
          (sIt, cIt, metaIt) => gather(Iterator.empty, sIt, cIt, metaIt)
        }
      else mirrors.zipPartitions(state, g.csr, g.meta, preservesPartitioning = false)(gather)
    exchange(g, gathered, state, hotBc, globalsBc) { (vm, inIdx, blocks, old) =>
      val gl = globalsBc.value
      val acc = new Array[Double](vm.nRecv * k)
      blocks.foreach { case (q, vals) =>
        val idx = inIdx(q)
        var j = 0
        while (j < idx.length) {
          val dst = idx(j) * k; val src = j * k
          var d = 0
          while (d < k) { acc(dst + d) += vals(src + d); d += 1 }
          j += 1
        }
      }
      val nV = vm.ids.length
      val out = new Array[Double](nV * k)
      var i = 0
      while (i < vm.nRecv) {
        kern.applyRecv(old, acc, out, i * k, vm.ids(i), gl)
        i += 1
      }
      // in-degree-0 vertices never receive: keep their vectors
      val nR = vm.nRecv * k
      System.arraycopy(old, nR, out, nR, nV * k - nR)
      out
    }
  }

  /** One result block per partition: `vecs` is K-packed, aligned to ids. */
  final case class VecBlock(ids: Array[Long], k: Int, vecs: Array[Double])

  // ---- SGD matrix factorization ------------------------------------------

  private final class SgdKernel(k: Int, lambda: Double, stepSize: Double)
      extends VecKernel(k) {
    def edge(src: Array[Double], sOff: Int, srcId: Long, w: Double,
             recv: Array[Double], dOff: Int, recvId: Long,
             acc: Array[Double], aOff: Int,
             globals: Array[Double], scratch: Array[Double]): Unit = {
      var dot = 0.0
      var d = 0
      while (d < k) { dot += src(sOff + d) * recv(dOff + d); d += 1 }
      val err = w - dot
      d = 0
      while (d < k) { acc(aOff + d) += src(sOff + d) * err; d += 1 }
    }
    override def applyRecv(old: Array[Double], acc: Array[Double],
                           out: Array[Double], off: Int, id: Long,
                           globals: Array[Double]): Unit = {
      var d = 0
      while (d < k) {
        // same IEEE order as the column apply: lv + step·((−λ·lv) + acc)
        out(off + d) = old(off + d) +
          stepSize * (-lambda * old(off + d) + acc(off + d))
        d += 1
      }
    }
  }

  /**
   * SGD matrix factorization on the CSR path — reference semantics
   * (`src/SGD.cpp`): ALL_EDGES both directions, ALL_VERTICES, fixed
   * iteration count. `g` must be built from the BIDIRECTIONAL rating edge
   * table with `weighted = true` (the CSR analog of the column engine's
   * Direction.All). `init(id, k)` seeds the latent vectors — pass
   * `graft.algos.Sgd.initLv` to match the column engine bit-for-bit at
   * iteration 0.
   */
  def sgd(g: PrGraph, k: Int = 20, iterations: Int = 10,
          lambda: Double = 0.001, stepSize: Double = 0.00000035,
          init: (Long, Int) => Double): RDD[VecBlock] = {
    require(g.weighted,
      "sgd needs per-edge ratings: build the graph with weighted = true")
    val kern = new SgdKernel(k, lambda, stepSize)
    iterate(g, Step(initState(g, k, init)), iterations, counted = false)(VecBlock(_, k, _)) {
      (state, _, _) => step(g, state, kern, Array.emptyDoubleArray)
    }._1
  }

  // ---- LDA ----------------------------------------------------------------

  /** Init pass (`LDAInitProgram`): 2-op — each edge contributes its
    * value-seeded normalized gamma vector × count to the receiver; the
    * bidirectional build delivers it to both endpoints. `gnTab` maps raw
    * weight BITS → the normalized K-vector (weights are token counts — a
    * tiny distinct set, broadcast with the closure). */
  private final class LdaInitKernel(k: Int, gnTab: java.util.HashMap[Long, Array[Double]])
      extends VecKernel(k) {
    override def needsRecv: Boolean = false
    def edge(src: Array[Double], sOff: Int, srcId: Long, w: Double,
             recv: Array[Double], dOff: Int, recvId: Long,
             acc: Array[Double], aOff: Int,
             globals: Array[Double], scratch: Array[Double]): Unit = {
      val gn = gnTab.get(java.lang.Double.doubleToLongBits(w))
      var d = 0
      while (d < k) { acc(aOff + d) += gn(d) * w; d += 1 }
    }
  }

  /** Iterate pass (`LDAProgram`): 3-op; offsets pick α for documents and η
    * for terms by the id threshold (the reference's `LDA.cpp:276-285` type
    * rule); globals = post-superstep topic totals + V(η−1). REPLACE apply. */
  private final class LdaKernel(k: Int, alpha: Double, eta: Double, termMinId: Long)
      extends VecKernel(k) {
    def edge(src: Array[Double], sOff: Int, srcId: Long, w: Double,
             recv: Array[Double], dOff: Int, recvId: Long,
             acc: Array[Double], aOff: Int,
             globals: Array[Double], scratch: Array[Double]): Unit = {
      val my = if (recvId >= termMinId) eta else alpha
      val oth = if (srcId >= termMinId) eta else alpha
      var gs = 0.0
      var d = 0
      while (d < k) {
        // column-engine order: ((recv+my)−1)·((msg+oth)−1)/g, left-fold sum
        val gamma = ((recv(dOff + d) + my) - 1.0) *
                    ((src(sOff + d) + oth) - 1.0) / globals(d)
        scratch(d) = gamma
        gs += gamma
        d += 1
      }
      d = 0
      while (d < k) { acc(aOff + d) += (scratch(d) / gs) * w; d += 1 }
    }
    // applyRecv default: REPLACE with the accumulated topic counts
  }

  /**
   * LDA on the CSR path — init + `iterations` supersteps with the global
   * topic vector refreshed before each (the reference's do_every_iteration).
   * `g` must be the BIDIRECTIONAL doc-term graph (weighted = token counts);
   * term vertices are ids ≥ `termMinId`. `gammaInit(weightAsLong, i)` seeds
   * the init gammas — pass `graft.algos.Sgd.md5InitScalar` to match the
   * column engine's `Lda.gamma0Md5` (same "value:i" md5 derivation).
   */
  def lda(g: PrGraph, k: Int = 20, iterations: Int = 10,
          alpha: Double = 1.0, eta: Double = 5.0, termMinId: Long,
          gammaInit: (Long, Int) => Double): RDD[VecBlock] = {
    require(g.weighted,
      "lda needs per-edge token counts: build the graph with weighted = true")
    // distinct edge values → normalized gamma table (tiny: values are counts)
    val wBits = g.csr.mapPartitions { it =>
      val blk = it.next()
      val s = new java.util.HashSet[Long]()
      if (blk.edgeW != null) {
        var tp = 0
        while (tp < blk.edgeW.length) {
          val ws = blk.edgeW(tp)
          if (ws != null) { var e = 0; while (e < ws.length) { s.add(java.lang.Double.doubleToLongBits(ws(e))); e += 1 } }
          tp += 1
        }
        var e = 0
        while (e < blk.hotEdgeW.length) { s.add(java.lang.Double.doubleToLongBits(blk.hotEdgeW(e))); e += 1 }
      }
      Iterator.single(s)
    }.reduce { (a, b) => a.addAll(b); a }
    val gnTab = new java.util.HashMap[Long, Array[Double]]()
    wBits.forEach { bits =>
      val wl = java.lang.Double.longBitsToDouble(bits).toLong
      val gsRaw = Array.tabulate(k)(i => gammaInit(wl, i))
      val gsum = gsRaw.sum
      gnTab.put(bits, gsRaw.map(_ / gsum))
    }
    // V = vocabulary size (count of term vertices) — fixed over the run
    val v = g.verts.map(vm => vm.ids.count(_ >= termMinId).toLong).sum().toLong
    val tMin = termMinId
    // global topic vector: Σ over term vertices of their K-counts
    def globalN(state: RDD[Array[Double]]): Array[Double] =
      state.zipPartitions(g.verts) { (sIt, vIt) =>
        val st = sIt.next(); val vm = vIt.next()
        val acc = new Array[Double](k)
        var i = 0
        while (i < vm.ids.length) {
          if (vm.ids(i) >= tMin) {
            var d = 0
            while (d < k) { acc(d) += st(i * k + d); d += 1 }
          }
          i += 1
        }
        Iterator.single(acc)
      }.reduce { (a, b) => var d = 0; while (d < k) { a(d) += b(d); d += 1 }; a }

    val initKern = new LdaInitKernel(k, gnTab)
    val kern = new LdaKernel(k, alpha, eta, termMinId)
    // superstep 0 is the init pass; the global topic vector is refreshed
    // before every later one
    iterate(g, Step(initState(g, k, (_, _) => 0.0)), 1 + iterations,
        counted = false)(VecBlock(_, k, _)) { (state, it, _) =>
      if (it == 0) step(g, state, initKern, Array.emptyDoubleArray)
      else step(g, state, kern, globalN(state).map(_ + v * (eta - 1.0)))
    }._1
  }

  /** Deterministic bipartite rating fixture for benchmarks: `nUsers` users,
    * each rating `degree` of nUsers/4 items, weights in [0, 5). mix-hashed,
    * so it reproduces at any parallelism (cf. TriangleCsr.communityEdges —
    * the transcript graphs have no K-vector workload of their own). */
  def ratingsEdges(spark: SparkSession, nUsers: Long, degree: Int): DataFrame = {
    import spark.implicits._
    val d = degree
    val nItems = math.max(nUsers / 4, 16L)
    val itemBase = 1000000000L
    spark.range(nUsers).as[Long].flatMap { u =>
      Iterator.range(0, d).map { j =>
        val item = itemBase + math.floorMod(GatherScatter.mix(u * 131L + j * 7L + 1L), nItems)
        val w = math.floorMod(GatherScatter.mix(u ^ (item * 31L)), 50L) / 10.0
        (u, item, w)
      }
    }.toDF("src", "dst", "weight")
  }

  /** (id, lv) DataFrame view of a factorization result (parity/testing). */
  def toDF(spark: SparkSession, blocks: RDD[VecBlock]): DataFrame = {
    val rows = blocks.flatMap { b =>
      Iterator.range(0, b.ids.length).map { i =>
        Row(b.ids(i), b.vecs.slice(i * b.k, i * b.k + b.k).toSeq)
      }
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("lv", ArrayType(DoubleType, containsNull = false), nullable = false))))
  }
}
