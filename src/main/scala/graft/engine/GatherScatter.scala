package graft.engine

import scala.reflect.ClassTag
import scala.util.Using

import org.apache.spark.{Partitioner, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

import graft.core.LinkGraph

/**
 * The SpMV inner loop compiled as a partition-local gather-scatter over
 * CSR-style edge partitions — the direct Spark analog of GraphMat's tile
 * kernel (`singlenode/spmspv.h:39-86`), with the communication structure
 * computed ONCE at build time (GraphMat's `ingestEdgelist` + DCSC tile build,
 * `SpMat.h:97-278`) so each superstep is pure primitive-array arithmetic:
 *
 *  - Edges are hash-partitioned by src; within a partition they are
 *    re-encoded as (src-index, out-index) pairs grouped by TARGET partition,
 *    where out-index points into a static per-(block, target) unique-dst
 *    array. Gather is then `vals(outIdx(e)) += contrib(srcIdx(e))` — no
 *    hashing, no allocation beyond the output buffers.
 *  - The scatter is ONE all-to-all of packed `Array[Double]` records (≤ n×n
 *    of them — the row-reduce all-to-all, `multinode/spmspv.h:141-203`); the
 *    receiver folds them through a static incoming-index table (`inIdx`,
 *    built once) into a dense per-partition accumulator. Because each
 *    (source block, hub dst) contributes ONE pre-summed slot, a hub vertex
 *    receives at most n partials per superstep — the two-phase (salted) ⊕
 *    the north rule asks for is structural here, not bolted on.
 *  - Vertex state is a dense `Array[Double]` aligned to a static per-partition
 *    id layout (receivers first, in-degree-0 srcs after), so the apply phase
 *    is a sequential array pass and convergence checking is index-aligned.
 *
 * Skew handling (north rule: "salted hot vertices, degree-aware split"):
 * srcs whose out-degree exceeds `hotDegree` have their edge lists SPLIT
 * across partitions — each hot edge is routed by mix(dst) instead of
 * mix(src), co-locating it with its receiver — and the (few) hot ranks are
 * broadcast per superstep (the mirror/ghost-vertex pattern; GraphMat's
 * "broadcast x to column ranks" phase, `multinode/spmspv.h:62-116`). A
 * million-out-degree hub therefore costs every partition |E_hub|/n edges
 * instead of one partition |E_hub|.
 *
 * At most one shuffle per superstep (none on a cut-free layout), no
 * Catalyst re-planning, no per-row boxing. An uncheckpointed loop chains
 * four supersteps per Spark job, a checkpointed one runs one job per
 * superstep, and a hub layout adds one mirror collect per superstep. Every CSR
 * kernel (here and in DeltaPrCsr, ToposortCsr, VectorSuperstep) keeps only
 * its arithmetic and runs through the same plumbing: `exchange` (the split
 * exchange) and `iterate` (the whole run: superstep loop and result job) —
 * see "the superstep plumbing" below. Checkpoints follow the Column
 * engine's protocol ([[Checkpoints]]); only the state's blocks are the CSR
 * engine's own.
 * Throughput path only; semantics verified against the Column-algebra
 * engine (allclose 1e-9) in GatherScatterSpec.
 */

object GatherScatter {

  /**
   * Session confs the engine relies on for STABLE task placement under real
   * executors. The superstep stage zips a ShuffledRDD with the cached graph
   * blocks; with reduce-locality on, the two preferences can disagree (map
   * output on one executor, cache on another), Spark unions them, and tasks
   * alternate executors forever — measured as the ENTIRE per-superstep
   * exchange going through remote shuffle (130–260 MB/superstep on the 32.5M
   * edge bench graph) and a 3-5x superstep slowdown. Reduce-locality off
   * makes the cached graph blocks the only preference, so map output, block
   * cache and apply task stay on one executor and cross-JVM bytes equal the
   * true partition cut. The generous locality wait keeps tasks waiting for
   * their home executor instead of drifting on a GC pause (partitions are
   * balanced, so no starvation).
   */
  val engineConfs: Map[String, String] = Map(
    "spark.shuffle.reduceLocality.enabled" -> "false",
    "spark.locality.wait" -> "30s")

  /** splitmix64 finalizer: every output bit depends on every input bit.
    * Structured vertex ids (e.g. convId<<20|turn) have near-zero low-bit
    * entropy, so low-bit hashing (java Long.hashCode % n) clusters
    * catastrophically — both for open addressing and for partition routing. */
  @inline def mix(k: Long): Long = {
    var z = k * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  @inline private[engine] def partOf(k: Long, n: Int): Int = {
    val h = (mix(k) % n).toInt
    if (h < 0) h + n else h
  }

  /** Partitioner routing Long keys through the mixer. `shift` drops the low
    * `shift` id bits before hashing: ids sharing high bits co-locate (see
    * `build`'s keyShift). */
  final class MixPartitioner(val n: Int, val shift: Int = 0) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = partOf(key.asInstanceOf[Long] >>> shift, n)
    override def equals(o: Any): Boolean = o match {
      case p: MixPartitioner => p.n == n && p.shift == shift
      case _ => false
    }
    override def hashCode: Int = n * 31 + shift
  }

  /**
   * Open-addressing Long→Double map, linear probing, power-of-2 capacity.
   * Sentinel Long.MinValue = empty (vertex ids must not use it).
   *
   * The slot hash uses the HIGH 32 bits of mix(k) — independent of the
   * routing hash `mix(k) % n` (low bits). Within one partition every key
   * shares the same routing residue, so hashing slots with the same low bits
   * would leave only 1/n of the table as home slots and probe chains n× the
   * load factor (measured as a 10-20× superstep slowdown in round 1).
   */
  final class LongDoubleMap(expected: Int) extends Serializable {
    private val EMPTY = Long.MinValue
    private var cap = Integer.highestOneBit(math.max(expected, 8) * 4 - 1) << 1
    private var mask = cap - 1
    private var keys = Array.fill[Long](cap)(EMPTY)
    private var vals = new Array[Double](cap)
    private var n = 0

    def size: Int = n

    @inline private def home(k: Long): Int = (mix(k) >>> 32).toInt & mask

    def addTo(k: Long, v: Double): Unit = {
      var i = home(k)
      while (true) {
        val kk = keys(i)
        if (kk == k) { vals(i) += v; return }
        if (kk == EMPTY) {
          keys(i) = k; vals(i) = v; n += 1
          if (n * 4 > cap * 3) grow()
          return
        }
        i = (i + 1) & mask
      }
    }

    def put(k: Long, v: Double): Unit = {
      var i = home(k)
      while (true) {
        val kk = keys(i)
        if (kk == k) { vals(i) = v; return }
        if (kk == EMPTY) {
          keys(i) = k; vals(i) = v; n += 1
          if (n * 4 > cap * 3) grow()
          return
        }
        i = (i + 1) & mask
      }
    }

    /** NaN when absent. */
    def getOrNaN(k: Long): Double = {
      var i = home(k)
      while (true) {
        val kk = keys(i)
        if (kk == k) return vals(i)
        if (kk == EMPTY) return Double.NaN
        i = (i + 1) & mask
      }
      Double.NaN
    }

    def toArrays: (Array[Long], Array[Double]) = {
      val ks = new Array[Long](n); val vs = new Array[Double](n)
      var i = 0; var j = 0
      while (i < cap) {
        if (keys(i) != EMPTY) { ks(j) = keys(i); vs(j) = vals(i); j += 1 }
        i += 1
      }
      (ks, vs)
    }

    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1; mask = cap - 1
      keys = Array.fill[Long](cap)(EMPTY); vals = new Array[Double](cap)
      n = 0
      var i = 0
      while (i < ok.length) {
        if (ok(i) != EMPTY) put(ok(i), ov(i))
        i += 1
      }
    }
  }

  /**
   * Static per-partition edge structure (the DCSC tile analog,
   * `DCSCTile.h:241-381`). `srcs` are the partition's LOCAL srcs (rank held
   * here); hot-shard edges reference the global hot list instead.
   * Per target partition tp: `outIds(tp)` = unique dsts routed to tp;
   * normal edges as (srcIdx into srcs, outIdx into outIds(tp)).
   * Hot edges were routed here BY dst, so their target bucket is this
   * partition itself: (hotIdx into hotLocal, outIdx into outIds(self)).
   */
  final case class CsrBlock(
      srcs: Array[Long], invDeg: Array[Double],
      outIds: Array[Array[Long]],
      edgeSrcIdx: Array[Array[Int]], edgeOutIdx: Array[Array[Int]],
      hotLocal: Array[Int],          // global hot-list index of hot srcs with edges here
      hotLocalInvDeg: Array[Double], // 1/globalDegree aligned to hotLocal
      hotEdgeSrcIdx: Array[Int],     // per hot edge: index into hotLocal
      hotEdgeOutIdx: Array[Int],     // per hot edge: index into outIds(self)
      // per-edge weights for the weighted (min,+) path, aligned positionally
      // with edgeSrcIdx(tp) / hotEdgeSrcIdx. null on unweighted builds (the
      // PageRank path never reads them; invDeg covers its uniform case).
      edgeW: Array[Array[Double]] = null,
      hotEdgeW: Array[Double] = null)

  /** Static per-partition vertex layout: receivers (in-degree > 0) occupy
    * ids[0, nRecv); in-degree-0 srcs follow. `srcPrIdx` aligns CsrBlock.srcs
    * to this layout; `hotHomeGlobal`/`hotHomeLocal` locate the hot vertices
    * homed in this partition for the per-superstep mirror broadcast. */
  final case class VertexMeta(
      ids: Array[Long], nRecv: Int,
      srcPrIdx: Array[Int],
      hotHomeGlobal: Array[Int], hotHomeLocal: Array[Int])

  /** One rank block per partition (public result shape). */
  final case class RankBlock(ids: Array[Long], pr: Array[Double])

  final case class PrGraph(
      csr: RDD[CsrBlock],
      verts: RDD[VertexMeta],
      inIdx: RDD[Array[Array[Int]]],          // per partition: source block q -> local recv indices
      hotIds: Array[Long],                     // globally sorted hot vertex ids
      numPartitions: Int,
      numEdges: Long,
      numVertices: Long,
      // the persisted RDD `verts`/`inIdx` are views of (kept for unpersist)
      private val combined: Option[RDD[(VertexMeta, Array[Array[Int]])]] = None,
      // snapshot loads cache ONE (csr, meta) RDD and expose views — see load()
      private val backing: Option[RDD[_]] = None,
      // built with per-edge weights (build(..., weighted = true))
      weighted: Boolean = false,
      // (p, tp != p) out-blocks in `csr`, counted by build; -1 = unknown.
      // 0 runs every superstep without a shuffle (see `exchange`)
      cut: Long = -1L) {
    /** The one persisted (VertexMeta, inIdx) RDD — supersteps zip against
      * this single handle so zipPartitions arity stays within bounds. */
    def meta: RDD[(VertexMeta, Array[Array[Int]])] =
      combined.getOrElse(verts.zip(inIdx))
    def unpersist(): Unit = {
      backing.foreach(_.unpersist(blocking = false))
      csr.unpersist(blocking = false)
      combined.foreach(_.unpersist(blocking = false))
      verts.unpersist(blocking = false)
      inIdx.unpersist(blocking = false)
    }
  }

  private[engine] final class IdPartitioner(val n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(o: Any): Boolean = o match {
      case p: IdPartitioner => p.n == n
      case _ => false
    }
    override def hashCode: Int = n
  }

  /** Sort a long array, returning (sorted, perm) with perm(oldIdx) = newIdx.
    * Build-time only: every per-partition layout is SORTED so that a lineage
    * recomputation after executor loss reproduces the identical layout —
    * otherwise rank vectors aligned to a pre-loss layout would silently
    * misalign against a recomputed one (shuffle arrival order is not
    * deterministic). */
  private def sortWithPerm(a: Array[Long]): (Array[Long], Array[Int]) = {
    val idx = Array.range(0, a.length).sortBy(a.apply)
    val sorted = new Array[Long](a.length); val perm = new Array[Int](a.length)
    var i = 0
    while (i < idx.length) { sorted(i) = a(idx(i)); perm(idx(i)) = i; i += 1 }
    (sorted, perm)
  }

  /** Growable primitive pair builder for the per-tp edge lists. */
  private final class IntPairBuf {
    var a = new Array[Int](256); var b = new Array[Int](256); var m = 0
    def add(x: Int, y: Int): Unit = {
      if (m == a.length) {
        a = java.util.Arrays.copyOf(a, m << 1)
        b = java.util.Arrays.copyOf(b, m << 1)
      }
      a(m) = x; b(m) = y; m += 1
    }
    def trimA: Array[Int] = java.util.Arrays.copyOf(a, m)
    def trimB: Array[Int] = java.util.Arrays.copyOf(b, m)
  }

  /** Growable primitive double builder (per-edge weights, weighted builds). */
  private final class DblBuf {
    var a = new Array[Double](256); var m = 0
    def add(x: Double): Unit = {
      if (m == a.length) a = java.util.Arrays.copyOf(a, m << 1)
      a(m) = x; m += 1
    }
    def trim: Array[Double] = java.util.Arrays.copyOf(a, m)
  }

  /**
   * Build the static structures once. `hotDegree` <= 0 picks an automatic
   * threshold (a src is "hot" when its edge list exceeds a quarter of an
   * average partition — only then does splitting beat locality).
   *
   * `keyShift` is the locality knob of the north rule's "range/hash-
   * partitioned" clause: vertices route by `mix(id >>> keyShift)`, so ids
   * sharing their high bits land in one partition. Transcript vertex ids are
   * hierarchical (`convOrd * 2^20 + turn_idx`, Transcripts.vertices), and
   * every reply/tool edge is intra-conversation — keyShift=20 therefore
   * makes the gather target of every edge the edge's OWN partition, while
   * load stays balanced because conversation ordinals are dense and hashed.
   * This is the Spark analog of GraphMat's cache-blocking vertex permutation
   * (`Graph.h:111-150`) lifted to the cluster level. 0 = pure hash (the
   * right default for ids with no exploitable structure).
   *
   * The build measures the resulting cut (`PrGraph.cut`, the out-blocks
   * addressed to another partition) in the job that materializes the edge
   * blocks. A cut-free layout runs every superstep as narrow zips with no
   * shuffle stage, so chained supersteps pipeline in one stage; any other
   * layout pays the split exchange's shuffle (see `exchange`).
   */
  def build(graph: LinkGraph, numPartitions: Int = 0, hotDegree: Long = 0L,
            keyShift: Int = 0, weighted: Boolean = false): PrGraph = {
    val n = if (numPartitions > 0) numPartitions else graph.numPartitions
    val idPart = new IdPartitioner(n)
    val sc = graph.edges.sparkSession.sparkContext

    // The edge table is read THREE times below (edge count for the hot
    // threshold, hub aggregate, routing). Persist the 2-column projection
    // across the passes so (a) a non-deterministic or mutating upstream
    // cannot make the hub set of pass 1 disagree with the edges routed in
    // pass 2, and (b) an expensive upstream pipeline is paid once, not
    // three times (the old form counted `graph.numEdges` off the RAW edge
    // plan before this persist existed — one extra full evaluation of the
    // fixtures' window derivation per build). Reads the graph's cached
    // clustered view when the caller already materialized one (guide §2.4).
    import org.apache.spark.sql.functions.{col => c9, count => cnt}
    val srcEdges = graph.cachedEdges
    val edgePairs = (if (weighted)
        srcEdges.select(c9("src"), c9("dst"), c9("weight").cast("double"))
      else srcEdges.select(c9("src"), c9("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val numEdges = edgePairs.count()
    val hotThreshold =
      if (hotDegree > 0) hotDegree
      else math.max(4096L, numEdges / n / 4)

    // degree-aware split: find srcs whose out-degree exceeds the threshold.
    // ONE Tungsten aggregate over the edge table (codegen'd partial+final
    // count — no RDD tuple boxing), tiny result: ids AND global degrees of
    // the hubs in a single pass (hub count is small by definition — if it
    // weren't, the threshold would be wrong, so cap it).
    val hotRows = edgePairs.groupBy(c9("src")).agg(cnt("*").as("d"))
      .filter(c9("d") > hotThreshold).collect()
    val hotIds: Array[Long] = hotRows.map(_.getLong(0)).sorted
    require(hotIds.length <= (1 << 20), s"hot-vertex list too large (${hotIds.length}); raise hotDegree")
    val hotSet = new LongDoubleMap(math.max(hotIds.length, 8))
    hotIds.zipWithIndex.foreach { case (id, i) => hotSet.put(id, i.toDouble) }
    val hotBc = sc.broadcast(hotSet)
    val nHot = hotIds.length
    val hotDeg: Array[Double] = {
      val m = hotRows.map(r => r.getLong(0) -> r.getLong(1).toDouble).toMap
      hotIds.map(m)
    }
    val hotDegBc = sc.broadcast(hotDeg)

    // route: normal edges by src (edge list co-located with the src's rank),
    // hot edges by dst (split across partitions, co-located with receivers).
    // The shuffle ships PACKED Array[Long] chunks ([s0,d0,s1,d1,...], one or
    // few records per (input partition, target)) instead of 2|E| boxed Long
    // tuples — at bench scale this build shuffle was 3-4x slower than the
    // packed form and dominated by tuple allocation + GC.
    val nLoc = n // plain local so closures don't capture the outer object
    val shiftLoc = keyShift
    val wLoc = weighted
    // weighted records append raw Double bits as a third long slot
    val stride = if (weighted) 3 else 2
    val routed: RDD[(Int, Array[Long])] = edgePairs.rdd
      .mapPartitions { it =>
        val hot = hotBc.value
        val bufs = new Array[Array[Long]](nLoc)
        val lens = new Array[Int](nLoc)
        var out = List.empty[(Int, Array[Long])]
        val CHUNK = stride << 20 // ~8-24 MB of longs per emitted record, max
        while (it.hasNext) {
          val r = it.next()
          val s = r.getLong(0); val d = r.getLong(1)
          val key = if (hot.getOrNaN(s).isNaN) s else d
          val tp = partOf(key >>> shiftLoc, nLoc)
          var b = bufs(tp)
          if (b == null) { b = new Array[Long](stride << 9); bufs(tp) = b }
          if (lens(tp) == b.length) {
            if (b.length >= CHUNK) {
              out ::= (tp, b) // exactly full: emit and start a fresh chunk
              b = new Array[Long](stride << 9); bufs(tp) = b; lens(tp) = 0
            } else {
              b = java.util.Arrays.copyOf(b, b.length << 1); bufs(tp) = b
            }
          }
          // records are `stride` slots; capacities are multiples of stride
          // (initial stride<<9, growth doubles), so a record never straddles
          // a capacity boundary
          b(lens(tp)) = s; b(lens(tp) + 1) = d
          if (wLoc) b(lens(tp) + 2) = java.lang.Double.doubleToRawLongBits(r.getDouble(2))
          lens(tp) += stride
        }
        var tp = 0
        while (tp < nLoc) {
          if (bufs(tp) != null && lens(tp) > 0)
            out ::= (tp, java.util.Arrays.copyOf(bufs(tp), lens(tp)))
          tp += 1
        }
        out.iterator
      }
      .partitionBy(idPart)

    val csr: RDD[CsrBlock] = routed
      .mapPartitionsWithIndex({ (p, it) =>
        val hot = hotBc.value
        val hDeg = hotDegBc.value
        var capE = 1 << 12
        var srcA = new Array[Long](capE); var dstA = new Array[Long](capE); var m = 0
        var wgtA: Array[Double] = if (wLoc) new Array[Double](capE) else null
        while (it.hasNext) {
          val chunk = it.next()._2
          var ci = 0
          while (ci < chunk.length) {
            if (m == capE) {
              capE <<= 1
              srcA = java.util.Arrays.copyOf(srcA, capE)
              dstA = java.util.Arrays.copyOf(dstA, capE)
              if (wLoc) wgtA = java.util.Arrays.copyOf(wgtA, capE)
            }
            srcA(m) = chunk(ci); dstA(m) = chunk(ci + 1)
            if (wLoc) wgtA(m) = java.lang.Double.longBitsToDouble(chunk(ci + 2))
            m += 1
            ci += stride
          }
        }
        // local (non-hot) srcs: all their edges are here, so local degree is global
        val degMap = new LongDoubleMap(1024)
        var i = 0
        while (i < m) {
          if (hot.getOrNaN(srcA(i)).isNaN) degMap.addTo(srcA(i), 1.0)
          i += 1
        }
        val (srcs, degs) = degMap.toArrays
        val idxMap = new LongDoubleMap(math.max(srcs.length, 8)) // value = index (exact in double)
        i = 0
        while (i < srcs.length) { idxMap.put(srcs(i), i.toDouble); i += 1 }
        val invDeg = new Array[Double](srcs.length)
        i = 0
        while (i < srcs.length) { invDeg(i) = 1.0 / degs(i); i += 1 }

        // per-target-partition unique-dst tables + packed edge lists
        val nTp = nLoc
        val outMap = new Array[LongDoubleMap](nTp) // dst -> outIdx
        val outList = new Array[Array[Long]](nTp)
        val outLen = new Array[Int](nTp)
        val ebuf = new Array[IntPairBuf](nTp)
        val hbuf = new IntPairBuf
        // weights stay positionally aligned with ebuf/hbuf adds: the remap
        // below rewrites index VALUES in place, never reorders entries
        val wbuf: Array[DblBuf] = if (wLoc) new Array[DblBuf](nTp) else null
        val hwbuf: DblBuf = if (wLoc) new DblBuf else null
        // local hot srcs (hot srcs with shard edges in this partition)
        val hotLocMap = new LongDoubleMap(64) // hot id -> local hot idx
        var hotLocIdx = new Array[Int](16); var nHotLoc = 0

        @inline def outIdxOf(tp: Int, dst: Long): Int = {
          var om = outMap(tp)
          if (om == null) {
            om = new LongDoubleMap(256); outMap(tp) = om
            outList(tp) = new Array[Long](256); ebuf(tp) = new IntPairBuf
          }
          val got = om.getOrNaN(dst)
          if (!got.isNaN) got.toInt
          else {
            val idx = outLen(tp)
            om.put(dst, idx.toDouble)
            if (idx == outList(tp).length)
              outList(tp) = java.util.Arrays.copyOf(outList(tp), idx << 1)
            outList(tp)(idx) = dst
            outLen(tp) = idx + 1
            idx
          }
        }

        i = 0
        while (i < m) {
          val s = srcA(i); val d = dstA(i)
          val tp = partOf(d >>> shiftLoc, nTp)
          val gHot = hot.getOrNaN(s)
          if (gHot.isNaN) {
            val oi = outIdxOf(tp, d) // creates the bucket (incl. ebuf) if new
            ebuf(tp).add(idxMap.getOrNaN(s).toInt, oi)
            if (wLoc) {
              if (wbuf(tp) == null) wbuf(tp) = new DblBuf
              wbuf(tp).add(wgtA(i))
            }
          } else {
            // hot edge: routed here by dst, so tp == this partition
            val g = gHot.toInt
            var loc = hotLocMap.getOrNaN(s)
            if (loc.isNaN) {
              if (nHotLoc == hotLocIdx.length)
                hotLocIdx = java.util.Arrays.copyOf(hotLocIdx, nHotLoc << 1)
              hotLocIdx(nHotLoc) = g
              hotLocMap.put(s, nHotLoc.toDouble)
              loc = nHotLoc.toDouble
              nHotLoc += 1
            }
            hbuf.add(loc.toInt, outIdxOf(tp, d))
            if (wLoc) hwbuf.add(wgtA(i))
          }
          i += 1
        }
        // canonicalize every layout by sorting + index remap: a recomputed
        // block after executor loss must reproduce the identical structure
        // (see sortWithPerm). Sets are order-independent, so sorted layout is.
        val (srcsS, permS) = sortWithPerm(srcs)
        val invDegS = new Array[Double](srcs.length)
        i = 0
        while (i < srcs.length) { invDegS(permS(i)) = invDeg(i); i += 1 }
        val outIds = new Array[Array[Long]](nTp)
        val outPerm = new Array[Array[Int]](nTp)
        var tp = 0
        while (tp < nTp) {
          if (outList(tp) != null) {
            val (o, po) = sortWithPerm(java.util.Arrays.copyOf(outList(tp), outLen(tp)))
            outIds(tp) = o; outPerm(tp) = po
          }
          tp += 1
        }
        val eSrc = new Array[Array[Int]](nTp)
        val eOut = new Array[Array[Int]](nTp)
        tp = 0
        while (tp < nTp) {
          if (ebuf(tp) != null) {
            val a = ebuf(tp).trimA; val b = ebuf(tp).trimB
            i = 0
            while (i < a.length) { a(i) = permS(a(i)); b(i) = outPerm(tp)(b(i)); i += 1 }
            eSrc(tp) = a; eOut(tp) = b
          }
          tp += 1
        }
        val hLocRaw = java.util.Arrays.copyOf(hotLocIdx, nHotLoc)
        val (hLocSortedL, permH) = sortWithPerm(hLocRaw.map(_.toLong))
        val hLoc = hLocSortedL.map(_.toInt)
        val hSrc = hbuf.trimA; val hOut = hbuf.trimB
        i = 0
        while (i < hSrc.length) {
          hSrc(i) = permH(hSrc(i))
          hOut(i) = outPerm(p)(hOut(i)) // hot edges target the local bucket
          i += 1
        }
        val eW: Array[Array[Double]] =
          if (!wLoc) null
          else Array.tabulate(nTp)(tp => if (wbuf(tp) == null) null else wbuf(tp).trim)
        Iterator.single(CsrBlock(
          srcsS, invDegS, outIds, eSrc, eOut,
          hLoc, hLoc.map(g => 1.0 / hDeg(g)),
          hSrc, hOut,
          eW, if (wLoc) hwbuf.trim else null))
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the job that materializes `csr` also counts its cut: the out-blocks
    // a partition addresses to ANOTHER partition (hot edges target their
    // own partition, so they never add to it)
    val cut = csr.mapPartitionsWithIndex { (p, it) =>
      val blk = it.next()
      Iterator.single(blk.outIds.indices.count(tp => tp != p && blk.outIds(tp) != null).toLong)
    }.reduce(_ + _)
    edgePairs.unpersist(blocking = false) // both passes are materialized

    // hot srcs are vertices of their HOME partition even when their edges
    // were scattered elsewhere
    val hotHomeRdd: RDD[Array[Long]] = sc
      .parallelize(hotIds.map(id => (id, null: Null)).toSeq, math.max(n / 4, 1))
      .partitionBy(new MixPartitioner(n, keyShift))
      .mapPartitions(it => Iterator.single(it.map(_._1).toArray),
        preservesPartitioning = true)

    // ONE exchange of the static unique-dst tables yields BOTH the receiver
    // sets (their union at p = exactly p's receivers — no separate 78M-record
    // dst shuffle) and the incoming-index table; per-superstep shuffles then
    // carry doubles only.
    val outMeta: RDD[(Int, (Int, Array[Long]))] = csr.mapPartitionsWithIndex {
      (p, it) =>
        val blk = it.next()
        Iterator.range(0, blk.outIds.length)
          .filter(tp => blk.outIds(tp) != null)
          .map(tp => (tp, (p, blk.outIds(tp))))
    }
    // vertex layout (receivers first [0, nRecv), then src-only vertices) plus
    // per-source-block incoming indices, built together in one pass
    val vertsAndIdx: RDD[(VertexMeta, Array[Array[Int]])] = outMeta
      .partitionBy(idPart)
      .zipPartitions(csr, hotHomeRdd, preservesPartitioning = true) { (mIt, cIt, hIt) =>
        val blk = cIt.next(); val hh = hIt.next()
        java.util.Arrays.sort(hh) // recomputation-stable layout
        val hot = hotBc.value
        val incoming = new Array[Array[Long]](nLoc)
        while (mIt.hasNext) {
          val (_, (q, ids)) = mIt.next()
          incoming(q) = ids
        }
        // receivers = sorted dedup of all incoming unique-dst tables — sorted
        // so the layout is recomputation-stable (see sortWithPerm scaladoc)
        var total = 0
        var q = 0
        while (q < nLoc) { if (incoming(q) != null) total += incoming(q).length; q += 1 }
        val all = new Array[Long](total)
        var w = 0
        q = 0
        while (q < nLoc) {
          val in = incoming(q)
          if (in != null) { System.arraycopy(in, 0, all, w, in.length); w += in.length }
          q += 1
        }
        java.util.Arrays.sort(all)
        val pos = new LongDoubleMap(math.max(total, 8))
        var ids = new Array[Long](math.max(total, 1024))
        var k = 0
        @inline def add(id: Long): Unit = {
          if (pos.getOrNaN(id).isNaN) {
            pos.put(id, k.toDouble)
            if (k == ids.length) ids = java.util.Arrays.copyOf(ids, k << 1)
            ids(k) = id; k += 1
          }
        }
        var i0 = 0
        while (i0 < total) { add(all(i0)); i0 += 1 }
        val nRecv = k
        var i = 0
        while (i < blk.srcs.length) { add(blk.srcs(i)); i += 1 }
        i = 0
        while (i < hh.length) { add(hh(i)); i += 1 }
        val idsT = java.util.Arrays.copyOf(ids, k)
        val srcPrIdx = new Array[Int](blk.srcs.length)
        i = 0
        while (i < blk.srcs.length) { srcPrIdx(i) = pos.getOrNaN(blk.srcs(i)).toInt; i += 1 }
        // locate hot vertices homed here (for the mirror broadcast)
        val hg = new Array[Int](hh.length); val hl = new Array[Int](hh.length)
        i = 0
        while (i < hh.length) {
          hg(i) = hot.getOrNaN(hh(i)).toInt
          hl(i) = pos.getOrNaN(hh(i)).toInt
          i += 1
        }
        val inIdxArr = new Array[Array[Int]](nLoc)
        q = 0
        while (q < nLoc) {
          val in = incoming(q)
          if (in != null) {
            val a = new Array[Int](in.length)
            var j = 0
            while (j < in.length) { a(j) = pos.getOrNaN(in(j)).toInt; j += 1 }
            inIdxArr(q) = a
          }
          q += 1
        }
        Iterator.single((VertexMeta(idsT, nRecv, srcPrIdx, hg, hl), inIdxArr))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    vertsAndIdx.count()

    val verts: RDD[VertexMeta] =
      vertsAndIdx.mapPartitions(it => it.map(_._1), preservesPartitioning = true)
    val inIdx: RDD[Array[Array[Int]]] =
      vertsAndIdx.mapPartitions(it => it.map(_._2), preservesPartitioning = true)

    val nV = vertsAndIdx.map(_._1.ids.length.toLong).sum().toLong
    // free executor-side copies of the build-time broadcasts: every RDD that
    // reads them is materialized above. unpersist, NOT destroy — a lineage
    // recomputation (cache eviction under pressure, executor loss) replays
    // the closures, and an unpersisted broadcast is re-shipped from the
    // driver on demand where a destroyed one would crash the replay.
    hotBc.unpersist(blocking = false)
    hotDegBc.unpersist(blocking = false)
    PrGraph(csr, verts, inIdx, hotIds, n, numEdges, nV, Some(vertsAndIdx),
      weighted = weighted, cut = cut)
  }

  /**
   * Preprocessed-graph snapshot — the CSR-level analog of the reference's
   * WriteGraphMatBin/ReadGraphMatBin (`include/GMDP/...` via graph_converter):
   * persist the BUILT structures so later runs (or other sessions) skip
   * ingest+routing+layout entirely. One object file per partition for the
   * edge blocks and the vertex/incoming-index metadata, plus a text
   * manifest (`manifest.json`) with the global fields. Every byte goes
   * through `store`. `load` restores partition alignment by an explicit
   * partitionBy on the stored partition ids.
   */
  def save(g: PrGraph, path: String,
           store: SnapshotStore = HadoopSnapshotStore): Unit = {
    // an older snapshot's manifest must not vouch for half-written blocks
    store.deleteIfExists(g.csr.sparkContext, s"$path/manifest.json")
    store.writeBlocks(
      g.csr.mapPartitionsWithIndex((p, it) => it.map(b => (p, b))), s"$path/csr")
    store.writeBlocks(
      g.meta.mapPartitionsWithIndex((p, it) => it.map(m => (p, m))), s"$path/meta")
    // written last: a snapshot without its manifest does not load
    store.writeText(g.csr.sparkContext, s"$path/manifest.json",
      s"""{"partitions":${g.numPartitions},"edges":${g.numEdges},""" +
      s""""vertices":${g.numVertices},"weighted":${g.weighted},"cut":${g.cut},""" +
      s""""hotIds":${g.hotIds.mkString("[", ",", "]")}}""")
  }

  def load(spark: SparkSession, path: String,
           store: SnapshotStore = HadoopSnapshotStore): PrGraph = {
    val sc = spark.sparkContext
    val manifest = store.readText(sc, s"$path/manifest.json").getOrElse(
      throw new java.io.FileNotFoundException(s"no CSR snapshot at $path (manifest.json)"))
    def optField(k: String) = s""""$k":([^,}\\]]*)""".r.findFirstMatchIn(manifest).map(_.group(1))
    def field(k: String) = optField(k)
      .getOrElse(throw new IllegalArgumentException(s"$path/manifest.json has no $k"))
    val (n, nE, nV, wtd) =
      (field("partitions").toInt, field("edges").toLong, field("vertices").toLong,
       field("weighted").toBoolean)
    // snapshots saved before the cut was measured load as unknown (-1),
    // which keeps them on the shuffle path
    val cut = optField("cut").fold(-1L)(_.toLong)
    val hotIds = """"hotIds":\[([^\]]*)\]""".r.findFirstMatchIn(manifest)
      .map(_.group(1)).filter(_.nonEmpty).map(_.split(',').map(_.toLong))
      .getOrElse(Array.emptyLongArray)
    val idPart = new IdPartitioner(n)
    // CRITICAL: cache ONE combined (csr, meta) RDD, not two. Caching the two
    // object files separately puts partition i's CSR block and its vertex
    // metadata on INDEPENDENT executors (both arrive via shuffles that, with
    // reduce-locality off, carry no location preference), and then every
    // superstep's zip task has conflicting cache preferences and remote-reads
    // one ~100s-of-MB deserialized block per partition per superstep — a
    // fetch that never shows in shuffle remoteBytesRead. Measured on the
    // 65M-edge snapshot: 2x4-core executors 21s -> 5s per 10 supersteps from
    // this one change; single-executor runs can't misalign, which is why the
    // bug only taxed multi-executor legs.
    val all: RDD[(CsrBlock, (VertexMeta, Array[Array[Int]]))] =
      store.readBlocks[CsrBlock](sc, s"$path/csr")
        .partitionBy(idPart)
        .zipPartitions(
          store.readBlocks[(VertexMeta, Array[Array[Int]])](sc, s"$path/meta")
            .partitionBy(idPart),
          preservesPartitioning = true) { (cIt, mIt) =>
            Iterator.single((cIt.next()._2, mIt.next()._2))
          }
        .persist(StorageLevel.MEMORY_AND_DISK)
    all.count()
    val csr = all.mapPartitions(it => it.map(_._1), preservesPartitioning = true)
    val meta = all.mapPartitions(it => it.map(_._2), preservesPartitioning = true)
    val verts = meta.mapPartitions(it => it.map(_._1), preservesPartitioning = true)
    val inIdx = meta.mapPartitions(it => it.map(_._2), preservesPartitioning = true)
    PrGraph(csr, verts, inIdx, hotIds, n, nE, nV, Some(meta), Some(all),
      weighted = wtd, cut = cut)
  }

  /** The committed CSR checkpoint `at` ([[Checkpoints]]), read from `path`
    * and lifted into a state. A state is saved WITH its per-partition id
    * layout (see `iterate`), so this VERIFIES alignment with the live graph
    * instead of trusting the rebuild: build() sorts every per-partition
    * array, so a rebuild with the same numPartitions/keyShift/hotDegree
    * reproduces the layout (see sortWithPerm). */
  private def readState[S: ClassTag](g: PrGraph, c: CheckpointConfig, at: Committed,
                                     path: String, lift: Array[Double] => S): RDD[S] = {
    def misaligned(why: String) =
      s"checkpoint ${c.runId}/iter=${at.iteration} does not align with this graph: $why"
    // driver-side pre-check: a partition-count mismatch must fail with a
    // clear message, not an out-of-range shuffle key deep in a task
    at.partitions.foreach(p => require(p == g.numPartitions, misaligned(
      s"saved with $p partitions, graph has ${g.numPartitions} " +
      "(resume needs the same build parameters)")))
    val moved = misaligned("resume needs the same edge set built with the same " +
      "numPartitions/keyShift/hotDegree (layouts are deterministic; see build())")
    c.store.readBlocks[RankBlock](g.csr.sparkContext, path)
      .partitionBy(new IdPartitioner(g.numPartitions))
      .zipPartitions(g.verts, preservesPartitioning = true) { (lIt, vIt) =>
        val rb = lIt.next()._2
        require(java.util.Arrays.equals(rb.ids, vIt.next().ids), moved)
        Iterator.single(lift(rb.pr))
      }
  }

  /** Per-partition lineage: the static layout a resumed run must reproduce
    * (vertex, receiver and edge counts per partition). */
  private def layout(g: PrGraph): Seq[Seq[(String, Long)]] =
    g.csr.zipPartitions(g.verts, preservesPartitioning = true) { (cIt, vIt) =>
      val blk = cIt.next(); val vm = vIt.next()
      val edges = blk.edgeSrcIdx.iterator.filter(_ != null).map(_.length).sum
      Iterator.single(Seq("vertices" -> vm.ids.length.toLong, "receivers" -> vm.nRecv.toLong,
        "edges" -> (edges + blk.hotEdgeSrcIdx.length).toLong))
    }.collect().toSeq

  /** Dense per-vertex state, one K-packed Array[Double] per partition
    * aligned to VertexMeta.ids: slot `d` of vertex `id` holds `f(id, d)`. */
  private[engine] def initState(g: PrGraph, k: Int, f: (Long, Int) => Double): RDD[Array[Double]] =
    g.verts.mapPartitions({ it =>
      val vm = it.next()
      val a = new Array[Double](vm.ids.length * k)
      var i = 0
      while (i < vm.ids.length) {
        var d = 0
        while (d < k) { a(i * k + d) = f(vm.ids(i), d); d += 1 }
        i += 1
      }
      Iterator.single(a)
    }, preservesPartitioning = true)

  // ---- the superstep plumbing, written once -------------------------------
  //
  // Every CSR kernel runs GraphMat's `run_graph_program` superstep
  // (`GraphMatRuntime.h:136-261`): gather (⊗ + per-target pre-⊕) → split
  // exchange → fold (⊕) + apply, then the land-reduce stop test. A kernel
  // owns its ⊗ and its per-partition apply; the rest exists once:
  //  - `gather`, the scalar gather of every sum or min kernel (PageRank,
  //    PPR, CC/BFS/SSSP, delta PageRank, the Kahn peel): the kernel's ⊗
  //    runs once per partition into a dense per-source array, and `scatter`
  //    ⊕-folds it along each target block's edges and the hub-shard edges,
  //    with ⊕ (a `Monoid`: `Sum` or `Min`) picked once per block. LP's label
  //    histograms and VectorSuperstep's K-wide payloads keep their own
  //    gathers.
  //  - `exchange`, the split exchange. A partition's contribution to ITSELF
  //    is most of the exchange whenever the partitioning has locality
  //    (keyShift co-location makes it ~all of it), and shipping it through
  //    the shuffle pays serialize + disk write + read even when the bytes
  //    never leave the executor. So the gathered blocks are lazily persisted
  //    (deserialized MEMORY_AND_DISK = the live arrays, zero-copy): the apply
  //    reads the self-contribution straight from the block cache, and only
  //    tp != p records enter the shuffle, so cross-JVM bytes equal the true
  //    partition cut. Placement stays process-local under the engine confs
  //    (see engineConfs): reduce-locality off makes the cached graph blocks
  //    the ONLY preferred location, so map output, block cache and apply
  //    task never separate. On a cut-free layout (`PrGraph.cut == 0`, as
  //    measured by build) there is nothing to ship: the exchange builds no
  //    shuffle at all, the apply is a narrow zip of the gathered blocks with
  //    the layout (read once, so not persisted), and chained supersteps
  //    pipeline inside one stage.
  //  - `fold`, the ⊕ of the received blocks into a dense accumulator.
  //  - `iterate`, the whole run: the superstep loop and its one barrier rule
  //    (an uncheckpointed run lands every 4th superstep and picks a counted
  //    loop's stop after the job, a checkpointed run lands every superstep),
  //    changed count, lineage truncation, durable checkpoints, freeing
  //    each segment's gathered blocks, broadcasts and superseded states once
  //    a barrier has landed, and the run's result job.
  //  - `hubMirror` / `mirror`, the per-superstep collect of the hot
  //    vertices' values for the mirror broadcast.

  /** One superstep's lazy state and what [[iterate]] frees once a later
    * state has landed: the persisted gathered blocks (null when none are)
    * and the superstep's broadcasts. */
  private[engine] final case class Step[S](next: RDD[S], gathered: RDD[_] = null,
                                           broadcasts: Seq[Broadcast[_]] = Nil)

  /** The split exchange of `gather`'s (targetPartition, (sourcePartition,
    * block)) records. `apply` runs once per partition with
    * the partition's layout, its incoming-index table, the blocks addressed
    * to it — its OWN block first, then the remote ones, the fold order that
    * keeps every kernel's results bit-identical — and its `side` state
    * (null when `side` is null: the apply then reads no previous state, so
    * the kernel's input is consumed exactly once). Only the tp != p records
    * are shuffled, so the gathered blocks, read by both sides of the split,
    * are persisted. On a cut-free layout (`g.cut == 0`) no record may leave
    * its partition, so there is no shuffle: the apply zips the gathered
    * blocks with the layout as narrow dependencies, in the same fold order,
    * and a record addressed elsewhere fails the task instead of being
    * dropped; each block is then read exactly once and is not persisted.
    * A job that resumes a chain of lazy supersteps restarts from the
    * newest cached state ([[iterate]] persists every state). */
  private[engine] def exchange[T, S: ClassTag, R: ClassTag](
      g: PrGraph, gather: RDD[(Int, (Int, T))], side: RDD[S], broadcasts: Broadcast[_]*)(
      apply: (VertexMeta, Array[Array[Int]], Iterator[(Int, T)], S) => R): Step[R] = {
    val gathered = if (g.cut == 0) gather else gather.persist(StorageLevel.MEMORY_AND_DISK)
    val run = (mIt: Iterator[(VertexMeta, Array[Array[Int]])],
               blocks: Iterator[(Int, T)], old: S) => {
      val (vm, inIdx) = mIt.next()
      Iterator.single(apply(vm, inIdx, blocks, old))
    }
    val next =
      if (g.cut == 0) {
        val own = (lIt: Iterator[(Int, (Int, T))]) => {
          val p = TaskContext.getPartitionId()
          lIt.map { case (tp, b) => if (tp != p) throw cutFree(p, tp); b }
        }
        if (side == null)
          g.meta.zipPartitions(gathered, preservesPartitioning = true) {
            (mIt, lIt) => run(mIt, own(lIt), null.asInstanceOf[S])
          }
        else
          g.meta.zipPartitions(gathered, side, preservesPartitioning = true) {
            (mIt, lIt, oIt) => run(mIt, own(lIt), oIt.next())
          }
      } else {
        val remote = gathered.mapPartitionsWithIndex(
            (p, it) => it.filter(_._1 != p), preservesPartitioning = false)
          .partitionBy(new IdPartitioner(g.numPartitions))
        val split = (lIt: Iterator[(Int, (Int, T))], rIt: Iterator[(Int, (Int, T))]) => {
          val p = TaskContext.getPartitionId()
          lIt.collect { case (tp, b) if tp == p => b } ++ rIt.map(_._2)
        }
        if (side == null)
          remote.zipPartitions(gathered, g.meta, preservesPartitioning = true) {
            (rIt, lIt, mIt) => run(mIt, split(lIt, rIt), null.asInstanceOf[S])
          }
        else
          remote.zipPartitions(gathered, g.meta, side, preservesPartitioning = true) {
            (rIt, lIt, mIt, oIt) => run(mIt, split(lIt, rIt), oIt.next())
          }
      }
    Step(next, if (g.cut == 0) null else gathered, broadcasts)
  }

  /** The failure of a record addressed from partition `p` to partition
    * `tp` on a layout whose measured cut is zero. */
  private[engine] def cutFree(p: Int, tp: Int): IllegalStateException =
    new IllegalStateException(
      s"partition $p addressed a block to partition $tp on a layout built cut-free " +
      "(PrGraph.cut == 0): the layout does not match its measured cut")

  /** The ⊕ of the scalar gather and fold with its identity: GraphMat's
    * `reduce_function`, specialized to the two the CSR kernels use. */
  private[engine] sealed abstract class Monoid(val zero: Double)
  private[engine] case object Sum extends Monoid(0.0)
  private[engine] case object Min extends Monoid(Double.PositiveInfinity)

  /**
   * The scalar gather, written once. Per partition, `contrib` is the
   * kernel's ⊗: the dense per-local-source contributions, or null when no
   * source here is active. `hot` gives the per-`hotLocal` contributions of
   * the hub-shard edges, or null when no hub is active; it is called only
   * on blocks that have hot edges. Each target block is the ⊕-scatter of
   * its edges (plus the per-edge weight when `useW`, weighted Min only);
   * the hub-shard edges were routed here by dst, so they scatter into the
   * partition's own block, after its edges, unless every hub contribution
   * is ⊕'s identity. Emits (targetPartition, (sourcePartition, packed block
   * aligned to outIds)) for every block with a slot off ⊕'s identity.
   * Skipping identity contributions is exact — `acc + 0.0 == acc` for the
   * sums, which start at +0.0 and never go negative, and
   * `min(acc, +∞) == acc` — and for the positive-contribution sum kernels
   * (delta PageRank, the peel) it is their sparse frontier.
   */
  private[engine] def gather[S](g: PrGraph, state: RDD[S], op: Monoid, useW: Boolean = false)(
      contrib: (S, CsrBlock, VertexMeta) => Array[Double],
      hot: CsrBlock => Array[Double]): RDD[(Int, (Int, Array[Double]))] = {
    val sum = op eq Sum
    val zero = op.zero
    state.zipPartitions(g.csr, g.verts, preservesPartitioning = false) { (sIt, cIt, vIt) =>
      val blk = cIt.next()
      val c = contrib(sIt.next(), blk, vIt.next())
      val p = TaskContext.getPartitionId()
      val out = new Array[Array[Double]](blk.outIds.length)
      def block(tp: Int) = {
        val o = new Array[Double](if (blk.outIds(tp) == null) 0 else blk.outIds(tp).length)
        if (!sum) java.util.Arrays.fill(o, zero)
        o
      }
      var tp = 0
      while (c != null && tp < out.length) {
        if (blk.outIds(tp) != null) {
          out(tp) = block(tp)
          scatter(sum, c, blk.edgeSrcIdx(tp), blk.edgeOutIdx(tp),
            if (useW) blk.edgeW(tp) else null, out(tp))
        }
        tp += 1
      }
      val hc = if (blk.hotEdgeSrcIdx.length > 0) hot(blk) else null
      if (hc != null && offZero(hc, zero)) {
        if (out(p) == null) out(p) = block(p)
        scatter(sum, hc, blk.hotEdgeSrcIdx, blk.hotEdgeOutIdx,
          if (useW) blk.hotEdgeW else null, out(p))
      }
      Iterator.range(0, out.length).filter(tp => out(tp) != null && offZero(out(tp), zero))
        .map(tp => (tp, (p, out(tp))))
    }
  }

  /** Whether some slot of `a` differs from `zero`. */
  private def offZero(a: Array[Double], zero: Double): Boolean = {
    var j = 0
    while (j < a.length && a(j) == zero) j += 1
    j < a.length
  }

  /** `o(eo(e)) ⊕= c(es(e))`, plus `ws(e)` when `ws` is non-null (weighted
    * Min only), over one block's edges: ⊕ and the weight are picked once
    * per block, never per edge. */
  private def scatter(sum: Boolean, c: Array[Double], es: Array[Int], eo: Array[Int],
                      ws: Array[Double], o: Array[Double]): Unit = {
    var e = 0
    if (sum) while (e < es.length) { o(eo(e)) += c(es(e)); e += 1 }
    else if (ws == null)
      while (e < es.length) { val x = c(es(e)); if (x < o(eo(e))) o(eo(e)) = x; e += 1 }
    else
      while (e < es.length) { val x = c(es(e)) + ws(e); if (x < o(eo(e))) o(eo(e)) = x; e += 1 }
  }

  /** The mirrored values of a block's hot sources, aligned to `hotLocal`;
    * `perDegree` multiplies each by its hub's 1/globalDegree. */
  private[engine] def hotValues(blk: CsrBlock, mirrored: Array[Double],
                                perDegree: Boolean = false): Array[Double] = {
    val h = new Array[Double](blk.hotLocal.length)
    var i = 0
    if (perDegree)
      while (i < h.length) { h(i) = mirrored(blk.hotLocal(i)) * blk.hotLocalInvDeg(i); i += 1 }
    else while (i < h.length) { h(i) = mirrored(blk.hotLocal(i)); i += 1 }
    h
  }

  /** ⊕ of the received blocks into a dense per-receiver accumulator that
    * starts at ⊕'s identity. */
  private[engine] def fold(op: Monoid, nRecv: Int, inIdx: Array[Array[Int]],
                           blocks: Iterator[(Int, Array[Double])]): Array[Double] = {
    val sum = op eq Sum
    val acc = new Array[Double](nRecv)
    if (!sum) java.util.Arrays.fill(acc, op.zero)
    blocks.foreach { case (q, vs) =>
      val idx = inIdx(q)
      var i = 0
      if (sum) while (i < vs.length) { acc(idx(i)) += vs(i); i += 1 }
      else while (i < vs.length) { if (vs(i) < acc(idx(i))) acc(idx(i)) = vs(i); i += 1 }
    }
    acc
  }

  /** The hub mirror, collected once per superstep: the K-wide values of
    * every hot vertex, packed by global hot index. `at` runs once per
    * partition and returns the packed values of the partition's hot
    * vertices at the given local indices. Empty, with no job, on hubless
    * graphs. */
  private[engine] def hubMirror[S](g: PrGraph, state: RDD[S], k: Int = 1)
                                  (at: (S, Array[Int]) => Array[Double]): Array[Double] = {
    val arr = new Array[Double](g.hotIds.length * k)
    if (arr.nonEmpty) state.zipPartitions(g.verts) { (sIt, vIt) =>
      val vm = vIt.next()
      Iterator.single((vm.hotHomeGlobal, at(sIt.next(), vm.hotHomeLocal)))
    }.collect().foreach { case (gis, vs) =>
      var i = 0
      while (i < gis.length) { System.arraycopy(vs, i * k, arr, gis(i) * k, k); i += 1 }
    }
    arr
  }

  /** The projection of a value vector onto the given local indices. */
  private val scalarAt = (r: Array[Double], ls: Array[Int]) => ls.map(li => r(li))

  /** The broadcast hub mirror of a scalar projection of `state` (`at` as
    * in [[hubMirror]]); null on hubless graphs, whose gathers never read it. */
  private[engine] def mirror[S](g: PrGraph, state: RDD[S])
                               (at: (S, Array[Int]) => Array[Double]): Broadcast[Array[Double]] =
    if (g.hotIds.isEmpty) null
    else state.sparkContext.broadcast(hubMirror(g, state)(at))

  /**
   * A CSR run, written once: the superstep loop, then the run's result job.
   * `init` is superstep 0's state. Each superstep runs `step(state,
   * superstep, changed)` and lazily persists the new state, so a state read
   * twice (by the gather and by the apply's `side`) is computed once, and a
   * job resumes from the newest cached state. A barrier is a superstep whose
   * Spark job runs; the rule has two cases:
   *  - uncheckpointed runs land every 4th superstep, and a `counted` one
   *    also on its budget's last. A fixed-budget loop (`changed` is null)
   *    leaves the supersteps after its last barrier to the result job:
   *    `pageRank(10)` runs 3 jobs instead of 11. A counted loop stops at
   *    GraphMat's land-reduce fixpoint (`GraphMatRuntime.h:208-226`): the
   *    kernel's apply adds its changed count to the superstep's own
   *    `changed`, and after a barrier the batch's first superstep that
   *    changed no vertex is the stop. The run returns that superstep's own
   *    persisted state and count, so results and superstep counts are those
   *    of a run that lands every superstep; the at most 3 supersteps the
   *    batch ran past the stop only computed states that are freed. The
   *    count is updated inside a TRANSFORMATION, so a task retry or
   *    speculative duplicate can double-count — but only inflate a nonzero
   *    count (delaying the stop by one superstep), never fabricate zero from
   *    nonzero.
   *  - checkpointed runs land every superstep.
   * A step that runs a driver action itself (a hub-mirror collect) computes
   * the state it reads, so batching saves hub layouts only the count jobs.
   * Every 16th superstep truncates lineage (a multiple of 4, so always the
   * last of a batch), so a long run's DAG and task closures stay bounded.
   * After each barrier, the gathered blocks, broadcasts and states made
   * since the previous one are freed, all but the stop's state and the
   * newest truncation point at or before it, which later states read as
   * their lineage root; the last segment's are freed after the result job,
   * which past 16 supersteps makes the result its own lineage root first.
   * An `init` the caller persisted stays the caller's to free.
   *
   * With `cp` ([[Checkpoints]]), a committed checkpoint replaces `init`
   * (`lift` turns its saved vectors into a state), and a due checkpoint
   * saves `values` of the state in the superstep's own job. Returns (one
   * `result(ids, state)` block per partition, persisted; supersteps run).
   */
  private[engine] def iterate[S: ClassTag, B: ClassTag](
      g: PrGraph, init: Step[S], maxIterations: Int, counted: Boolean,
      cp: Option[CheckpointConfig] = None,
      values: S => Array[Double] = null, lift: Array[Double] => S = null)(
      result: (Array[Long], S) => B)(
      step: (RDD[S], Int, LongAccumulator) => Step[S]): (RDD[B], Int) = {
    val sc = g.csr.sparkContext
    Using.resource(new Checkpoints(cp, sc, maxIterations, g.numPartitions)(() => layout(g))) { ck =>
      // `writeBlocks` deletes half-written state from a crash before saving
      def save(path: String, st: RDD[S]): Unit = cp.get.store.writeBlocks(
        st.zipPartitions(g.verts, preservesPartitioning = true) { (sIt, vIt) =>
          sIt.map(s => TaskContext.getPartitionId() -> RankBlock(vIt.next().ids, values(s)))
        }, path)
      var it = 0
      var converged = false
      var state = ck.resume() match {
        case Some(c) =>
          it = c.iteration; converged = c.converged
          readState(g, cp.get, c, ck.statePath(c.iteration), lift)
        case None => init.next
      }
      // what no barrier has freed yet: the steps' handles and the states
      // this run persisted (an init the caller persisted is not one)
      var steps: List[Step[_]] = List(init)
      var states: List[RDD[S]] =
        if (state.getStorageLevel != StorageLevel.NONE) Nil
        else List(state.persist(StorageLevel.MEMORY_AND_DISK))
      // the newest truncation point that has landed
      var root: RDD[S] = null
      // unpersist, not destroy: a lineage recomputation replays closures
      // that read the broadcasts (see build())
      def free(keep: RDD[S]): Unit = {
        steps.foreach { s =>
          if (s.gathered != null) s.gathered.unpersist(blocking = false)
          s.broadcasts.foreach(b => if (b != null) b.unpersist(blocking = false))
        }
        steps = Nil
        states.foreach(st => if ((st ne keep) && (st ne root)) st.unpersist(blocking = false))
        states = states.filter(st => (st eq keep) || (st eq root))
      }
      // the supersteps since the last barrier, oldest first: (superstep,
      // state, changed count)
      var batch = Vector.empty[(Int, RDD[S], LongAccumulator)]
      var t0 = System.nanoTime()
      while (!converged && it < maxIterations) {
        val changed = if (counted) sc.longAccumulator(s"changed-$it") else null
        val s = step(state, it, changed)
        state = s.next.persist(StorageLevel.MEMORY_AND_DISK)
        it += 1
        if (it % 16 == 0) state.localCheckpoint()
        steps ::= s
        states ::= state
        batch :+= ((it, state, changed))
        if (cp.isDefined || (if (it < maxIterations) it % 4 == 0 else counted)) {
          // the barrier's one job: a due checkpoint's state write, else a
          // count; a checkpointed run's batch is this one superstep
          val written = ck.due(it)
          if (written) save(ck.statePath(it), state) else state.count()
          // the stop: the batch's first superstep that changed no vertex
          val stop = if (counted) batch.indexWhere(_._3.sum == 0L) else -1
          val landed = if (stop < 0) batch else batch.take(stop + 1)
          it = landed.last._1
          state = landed.last._2
          if (it % 16 == 0) root = state
          free(keep = state)
          // the batch's wall, split evenly over its supersteps
          val millis = (System.nanoTime() - t0) / 1000000 / batch.size
          landed.foreach { case (i, _, c) =>
            val n = if (counted) c.sum else -1L
            converged = n == 0L
            ck.commit(i, converged, n, millis, written)(save(_, state))
          }
          batch = Vector.empty
          t0 = System.nanoTime()
        }
      }
      val out = state.zipPartitions(g.verts, preservesPartitioning = true) { (sIt, vIt) =>
        Iterator.single(result(vIt.next().ids, sIt.next()))
      }.persist(StorageLevel.MEMORY_AND_DISK)
      if (it >= 16) out.localCheckpoint()
      out.count()
      root = null
      free(keep = null)
      (out, it)
    }
  }

  /** PageRank's gather: ⊗ = rank / out-degree, ⊕ = +. `hotPr` is the hub
    * mirror (null on hubless graphs, never read then). */
  private def rankGather(g: PrGraph, ranks: RDD[Array[Double]],
                         hotPr: Broadcast[Array[Double]]): RDD[(Int, (Int, Array[Double]))] =
    gather(g, ranks, Sum)((pr, blk, vm) => {
      val c = new Array[Double](blk.srcs.length)
      var i = 0
      while (i < c.length) { c(i) = pr(vm.srcPrIdx(i)) * blk.invDeg(i); i += 1 }
      c
    }, blk => hotValues(blk, hotPr.value, perDegree = true))

  /** One superstep: gather → split exchange → dense apply. When `tol` >= 0,
    * counts into `changedAcc` the vertices that moved more than tol; the
    * fixed-budget `pageRank` passes a negative tol and no count. In-degree-0
    * slots keep their previous value, which is their initial 0.3. `hotPr`
    * is the hub mirror (null on hubless graphs, never dereferenced then). */
  private def superstep(g: PrGraph, ranks: RDD[Array[Double]], alpha: Double,
                        tol: Double, changedAcc: LongAccumulator,
                        hotPr: Broadcast[Array[Double]]): Step[Array[Double]] =
    exchange(g, rankGather(g, ranks, hotPr), ranks, hotPr) { (vm, inIdx, blocks, old) =>
      val acc = fold(Sum, vm.nRecv, inIdx, blocks)
      val nV = vm.ids.length
      val newPr = new Array[Double](nV)
      var changed = 0L
      var i = 0
      while (i < vm.nRecv) {
        val v = alpha + (1.0 - alpha) * acc(i)
        newPr(i) = v
        if (tol >= 0 && math.abs(v - old(i)) > tol) changed += 1
        i += 1
      }
      while (i < nV) { newPr(i) = old(i); i += 1 } // in-degree-0: never receive
      if (changedAcc != null) changedAcc.add(changed)
      newPr
    }

  /**
   * GraphMat-semantics PageRank, fixed iteration count: pr' = α + (1−α)·Σ
   * pr/outdeg applied to message receivers only; in-degree-0 vertices never
   * receive and keep their initial 0.3 (`src/PageRank.cpp:81-161`,
   * apply-on-receive per `GraphMatRuntime.h:195-225`).
   */
  def pageRank(g: PrGraph, alpha: Double, iterations: Int): RDD[RankBlock] =
    iterate(g, Step(initState(g, 1, (_, _) => 0.3)), iterations, counted = false)(RankBlock) {
      (ranks, _, _) => superstep(g, ranks, alpha, tol = -1.0, null, mirror(g, ranks)(scalarAt))
    }._1

  /**
   * Personalized PageRank on the CSR path — the same gather/split-exchange
   * as `pageRank` with a per-vertex teleport base instead of the constant α:
   * pr' = α·s(v) + (1−α)·Σ pr/outdeg, init pr = s, s = 1 on the source set.
   * Never-receivers hold α·s(v) (their Σ is empty), so the apply reads the
   * cached base vector, not the previous ranks. Matches
   * algos.PageRank.personalized within ⊕ order (CoreMetricsSpec parity;
   * g_ppr_csr shares g_ppr's unrolled oracle).
   */
  def personalizedPageRank(g: PrGraph, isSource: Long => Boolean,
                           alpha: Double, iterations: Int): RDD[RankBlock] = {
    val base = initState(g, 1, (id, _) => if (isSource(id)) 1.0 else 0.0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // init pr0 = s; persisted here, so the loop leaves `base` to this caller
    val ranks = iterate(g, Step(base), iterations, counted = false)(RankBlock) { (ranks, _, _) =>
      val hotPr = mirror(g, ranks)(scalarAt)
      exchange(g, rankGather(g, ranks, hotPr), base, hotPr) { (vm, inIdx, blocks, b) =>
        val acc = fold(Sum, vm.nRecv, inIdx, blocks)
        val nV = vm.ids.length
        val newPr = new Array[Double](nV)
        var i = 0
        while (i < vm.nRecv) {
          newPr(i) = alpha * b(i) + (1.0 - alpha) * acc(i); i += 1
        }
        while (i < nV) { newPr(i) = alpha * b(i); i += 1 }
        newPr
      }
    }._1
    base.unpersist(blocking = false)
    ranks
  }

  /**
   * PageRank until convergence, GraphMat stop rule: terminate when no vertex
   * moved by more than `tol` (`PR::operator!=`, `src/PageRank.cpp:43-45`;
   * land-reduce `GraphMatRuntime.h:208-226` — here a Spark accumulator).
   * Returns (final ranks, supersteps run). With `cp`, the run checkpoints
   * and resumes ([[CheckpointConfig]]); a resumed run's ranks are
   * bit-identical to an uninterrupted run's (the state is the exact
   * doubles; supersteps are deterministic).
   */
  def pageRankConverged(g: PrGraph, alpha: Double = 0.3, tol: Double = 1e-5,
                        maxIterations: Int = 200,
                        cp: Option[CheckpointConfig] = None): (RDD[RankBlock], Int) =
    iterate[Array[Double], RankBlock](g, Step(initState(g, 1, (_, _) => 0.3)), maxIterations,
        counted = true, cp, identity, identity)(RankBlock) {
      (ranks, _, changed) => superstep(g, ranks, alpha, tol, changed, mirror(g, ranks)(scalarAt))
    }

  // ---- the (min, +) semiring on the same static exchange -----------------
  //
  // GraphMat's core claim is vertex-programs-as-semiring-SpMV
  // (`include/GMDP/...`, VLDB'15 §3). The PageRank path above is the (+, ×)
  // instance; this is the (min, +) instance through the same `gather` with
  // ⊕ = Min: ⊗ = v(src) + delta (+ w(e) when weighted), absent
  // contributions = +∞, the semiring zero; apply: min(old, acc) with a
  // changed count; loop to the exact fixpoint. Two bundled users: HashMin
  // connected components (delta = 0, bidirectional edges —
  // `src/ConnectedComponents.cpp`) and BFS levels (delta = 1, out-edges —
  // `src/BFS.cpp:40-156`). Unlike PageRank's float ⊕, min is idempotent, so
  // a task retry or speculative duplicate cannot corrupt the fixpoint at
  // all; the one-sided accumulator argument of `iterate`'s scaladoc holds
  // here too.
  //
  // Values ride the rank plumbing as Doubles; vertex LABELS (CC) must
  // therefore be exact in a Double — enforced as ids < 2^53 at init.
  //
  // Internal per-superstep state: values plus "did any vertex here change
  // last superstep". Because min is MONOTONE and IDEMPOTENT, a partition
  // whose vertices are all unchanged would re-send contributions every
  // receiver has already folded — min(old, same) = old — so its ⊗ is null
  // and it skips its whole gather: a partition-granularity sparse frontier
  // (GraphMat's ACTIVE_ONLY sparse vectors, `src/BFS.cpp` frontier
  // semantics, at block grain). On single-source BFS/SSSP most partitions
  // go quiet after the first superstep and each level touches only the
  // frontier's blocks. The hub-shard edges are gated separately: hub
  // sources are HOMED elsewhere, so their edges fire when the MIRROR
  // changed, even in otherwise-quiet partitions.

  /** Run the (min, +) propagation from `init` to its exact fixpoint.
    * Returns (value blocks, supersteps run). Vertices never reached keep
    * their init value (+∞ for single-source inits). With `cp` (see
    * [[CheckpointConfig]]), only VALUES are saved — resume re-activates every
    * partition, which is sound because min is monotone and idempotent
    * (re-sent contributions fold to the values already held), so a resumed
    * run reaches the identical fixpoint with identical changed counts, at
    * the cost of one dense gather on its first superstep. */
  def minFixpoint(g: PrGraph, init: RDD[Array[Double]], delta: Double,
                  maxIterations: Int = 1 << 20,
                  useWeights: Boolean = false,
                  cp: Option[CheckpointConfig] = None): (RDD[RankBlock], Int) = {
    require(!useWeights || g.weighted,
      "weighted (min,+) needs build(..., weighted = true)")
    val sc = g.csr.sparkContext
    // superstep 0 marks every partition active (correct for any init, and —
    // see scaladoc — for any RESUMED state); thereafter a partition stays
    // active only while its vertices change
    val active = (a: Array[Double]) => (a, true)
    // the hub MIRROR's own frontier: hot shard edges fire only on supersteps
    // where some hot vertex's value actually moved (compared driver-side —
    // the mirror is tiny by construction)
    var prevHot: Array[Double] = null
    // unweighted: fold the uniform delta into the per-src ⊗ once; weighted:
    // the ⊗ is per EDGE (v(src) + w(e)), and the gather adds w(e)
    val base = if (useWeights) 0.0 else delta
    iterate[(Array[Double], Boolean), RankBlock](g,
        Step(init.mapPartitions(_.map(active), preservesPartitioning = true)), maxIterations,
        counted = true, cp, _._1, active)((ids, v) => RankBlock(ids, v._1)) { (vals, _, changed) =>
      val cur = if (g.hotIds.isEmpty) null else hubMirror(g, vals)((v, ls) => scalarAt(v._1, ls))
      val hotActive = cur != null && (prevHot == null || !java.util.Arrays.equals(prevHot, cur))
      prevHot = cur
      val hotV = if (cur == null) null else sc.broadcast(cur)
      val gathered = gather(g, vals, Min, useWeights)((v, blk, vm) =>
        if (!v._2) null
        else {
          val c = new Array[Double](blk.srcs.length)
          var i = 0
          while (i < c.length) { c(i) = v._1(vm.srcPrIdx(i)) + base; i += 1 }
          c
        }, blk =>
        if (!hotActive) null
        else {
          val h = hotValues(blk, hotV.value)
          var i = 0
          while (i < h.length) { h(i) += base; i += 1 }
          h
        })
      exchange(g, gathered, vals, hotV) { (vm, inIdx, blocks, o) =>
        val old = o._1
        val acc = fold(Min, vm.nRecv, inIdx, blocks)
        val nV = vm.ids.length
        val out = new Array[Double](nV)
        var n = 0L
        var i = 0
        while (i < vm.nRecv) {
          val nv = if (acc(i) < old(i)) acc(i) else old(i)
          out(i) = nv
          if (nv < old(i)) n += 1
          i += 1
        }
        while (i < nV) { out(i) = old(i); i += 1 }
        changed.add(n)
        (out, n > 0L)
      }
    }
  }

  /** Every vertex labelled with its own id, as an exact Double — so ids
    * must lie within ±2^53. */
  private def idLabels(g: PrGraph): RDD[Array[Double]] =
    initState(g, 1, (id, _) => {
      require(id < (1L << 53) && id > -(1L << 53), s"vertex id $id not exact in a Double label")
      id.toDouble
    })

  /** HashMin connected components on the (min, +) kernel: every vertex
    * starts as its own label and adopts the minimum label reachable along
    * the graph's edges. For the reference's WEAK components semantics
    * (`src/ConnectedComponents.cpp`; undirected ⊕=min), build the PrGraph on
    * a bidirectional edge set (e.g. `LinkGraph.undirected`). */
  def connectedComponents(g: PrGraph, maxIterations: Int = 1 << 20,
                          cp: Option[CheckpointConfig] = None): (RDD[RankBlock], Int) =
    minFixpoint(g, idLabels(g), delta = 0.0, maxIterations, cp = cp)

  /** BFS levels from `source` on the (min, +) kernel (delta = 1 along
    * out-edges). Unreached vertices keep +∞ (the column engine's -1 analog). */
  def bfs(g: PrGraph, source: Long, maxIterations: Int = 1 << 20,
          cp: Option[CheckpointConfig] = None): (RDD[RankBlock], Int) = {
    minFixpoint(g, singleSourceInit(g, source), delta = 1.0, maxIterations,
      cp = cp)
  }

  /** Single-source shortest paths on the weighted (min, +) kernel: the
    * Bellman-Ford-shaped fixpoint of dist(d) = min(dist(d), dist(s) + w(s,d))
    * along out-edges (reference `src/SSSP.cpp`; requires nonnegative weights
    * for the fixpoint to be the true distances). Needs
    * `build(..., weighted = true)`; unreached vertices keep +∞. */
  def sssp(g: PrGraph, source: Long, maxIterations: Int = 1 << 20,
           cp: Option[CheckpointConfig] = None): (RDD[RankBlock], Int) = {
    minFixpoint(g, singleSourceInit(g, source), delta = 0.0, maxIterations,
      useWeights = true, cp = cp)
  }

  // ---- the (mode, ·) label-propagation pass on the same static exchange --
  //
  // North-rule community label propagation (`algos/Algorithms.scala`
  // LabelPropagation is the semantics reference): every superstep each
  // vertex adopts the most frequent label among its neighbors, ties to the
  // SMALLER label, keeping its label when it has no neighbors; run for a
  // caller-fixed iteration budget (LP can oscillate) with early stop at the
  // exact no-label-moved fixpoint. The ⊕ (mode-of-labels) is not a one-slot
  // commutative fold, so the exchange record generalizes from one packed
  // Double per unique dst to a packed label HISTOGRAM per unique dst:
  // (dst slot, label, count) triples, run-length-encoded after a counting
  // sort by slot. Pre-aggregation still bounds hub fan-in structurally: a
  // receiver folds at most (n partitions × its distinct incoming labels)
  // partials, never one record per edge. Unlike the (min,+) path every
  // superstep is dense — mode is recomputed from ALL neighbor messages, so
  // there is no idempotent fold to skip quiet partitions with (the column
  // engine is ALL_VERTICES here too). Labels ride as exact-integer Doubles
  // (ids < 2^53, enforced at init).

  /** In-place quicksort of `lab[from,to)` ascending, carrying `cnt` along.
    * Insertion sort below 24 elements; receivers' per-vertex label segments
    * are usually tiny, hubs get the O(k log k) path. */
  private def sortPaired(lab: Array[Double], cnt: Array[Int],
                         from: Int, to: Int): Unit = {
    if (to - from < 2) return
    if (to - from <= 24) {
      var i = from + 1
      while (i < to) {
        val l = lab(i); val c = cnt(i)
        var j = i - 1
        while (j >= from && lab(j) > l) {
          lab(j + 1) = lab(j); cnt(j + 1) = cnt(j); j -= 1
        }
        lab(j + 1) = l; cnt(j + 1) = c
        i += 1
      }
      return
    }
    val pivot = lab(from + (to - from) / 2)
    var i = from; var j = to - 1
    while (i <= j) {
      while (lab(i) < pivot) i += 1
      while (lab(j) > pivot) j -= 1
      if (i <= j) {
        val tl = lab(i); lab(i) = lab(j); lab(j) = tl
        val tc = cnt(i); cnt(i) = cnt(j); cnt(j) = tc
        i += 1; j -= 1
      }
    }
    sortPaired(lab, cnt, from, j + 1)
    sortPaired(lab, cnt, i, to)
  }

  /** LP gather: per target partition, this partition's partial label
    * histogram — parallel arrays (dst slot, label, count), slot-ascending,
    * labels RLE'd within a slot. Hot-shard edges contribute the broadcast
    * mirror's labels into this partition's own bucket, exactly like the
    * PageRank gather. */
  private def gatherLabelPhase(labels: RDD[Array[Double]], g: PrGraph,
      hotL: Broadcast[Array[Double]])
      : RDD[(Int, (Int, (Array[Int], Array[Double], Array[Int])))] =
    labels.zipPartitions(g.csr, g.verts, preservesPartitioning = false) { (rIt, cIt, vIt) =>
      val lab = rIt.next(); val blk = cIt.next(); val vm = vIt.next()
      val p = TaskContext.getPartitionId()
      val nS = blk.srcs.length
      val srcLab = new Array[Double](nS)
      var i0 = 0
      while (i0 < nS) { srcLab(i0) = lab(vm.srcPrIdx(i0)); i0 += 1 }
      Iterator.range(0, blk.outIds.length).flatMap { tp =>
        val ids = blk.outIds(tp)
        val nHot = if (tp == p) blk.hotEdgeSrcIdx.length else 0
        if (ids == null) Iterator.empty
        else {
          val es = blk.edgeSrcIdx(tp); val eo = blk.edgeOutIdx(tp)
          val m = es.length + nHot
          if (m == 0) Iterator.empty
          else {
            val nSlots = ids.length
            // counting sort of the edge labels by dst slot
            val off = new Array[Int](nSlots + 1)
            var e = 0
            while (e < es.length) { off(eo(e) + 1) += 1; e += 1 }
            if (nHot > 0) {
              val ho = blk.hotEdgeOutIdx
              e = 0
              while (e < ho.length) { off(ho(e) + 1) += 1; e += 1 }
            }
            var i = 1
            while (i <= nSlots) { off(i) += off(i - 1); i += 1 }
            val fill = java.util.Arrays.copyOf(off, nSlots)
            val labAt = new Array[Double](m)
            e = 0
            while (e < es.length) {
              val slot = eo(e); labAt(fill(slot)) = srcLab(es(e)); fill(slot) += 1
              e += 1
            }
            if (nHot > 0) {
              val hl = hotL.value; val hs = blk.hotEdgeSrcIdx; val ho = blk.hotEdgeOutIdx
              e = 0
              while (e < hs.length) {
                val slot = ho(e); labAt(fill(slot)) = hl(blk.hotLocal(hs(e))); fill(slot) += 1
                e += 1
              }
            }
            // RLE per slot after an in-slot sort
            val pc = new IntPairBuf // (slot, count)
            val lv = new DblBuf     // label per run
            var slot = 0
            while (slot < nSlots) {
              val a = off(slot); val b = off(slot + 1)
              if (b > a) {
                java.util.Arrays.sort(labAt, a, b)
                var j = a
                while (j < b) {
                  var k = j + 1
                  while (k < b && labAt(k) == labAt(j)) k += 1
                  pc.add(slot, k - j); lv.add(labAt(j))
                  j = k
                }
              }
              slot += 1
            }
            Iterator.single((tp, (p, (pc.trimA, lv.trim, pc.trimB))))
          }
        }
      }
    }

  private def labelStep(g: PrGraph, labels: RDD[Array[Double]],
      changedAcc: LongAccumulator,
      hotL: Broadcast[Array[Double]]): Step[Array[Double]] =
    exchange(g, gatherLabelPhase(labels, g, hotL), labels, hotL) {
      (vm, inIdx, blocks, old) =>
        // collect (recvIdx, label, count) from every source partition
        val rc = new IntPairBuf // (recvIdx, count)
        val lb = new DblBuf
        blocks.foreach { case (q, (pos, labv, c)) =>
          val idx = inIdx(q)
          var i = 0
          while (i < pos.length) { rc.add(idx(pos(i)), c(i)); lb.add(labv(i)); i += 1 }
        }
        val m = rc.m
        val recv = rc.trimA; val cnts = rc.trimB; val labv = lb.trim
        // counting sort by receiver, then per-receiver label merge + mode
        val nR = vm.nRecv
        val off = new Array[Int](nR + 1)
        var i = 0
        while (i < m) { off(recv(i) + 1) += 1; i += 1 }
        i = 1
        while (i <= nR) { off(i) += off(i - 1); i += 1 }
        val fill = java.util.Arrays.copyOf(off, nR)
        val sl = new Array[Double](m); val sc = new Array[Int](m)
        i = 0
        while (i < m) {
          val r = recv(i); sl(fill(r)) = labv(i); sc(fill(r)) = cnts(i); fill(r) += 1
          i += 1
        }
        val nV = vm.ids.length
        val out = new Array[Double](nV)
        var changed = 0L
        var r = 0
        while (r < nR) {
          val a = off(r); val b = off(r + 1)
          if (b == a) out(r) = old(r) // no neighbor messages: keep label
          else {
            sortPaired(sl, sc, a, b)
            var bestLab = 0.0; var bestCnt = 0
            var j = a
            while (j < b) {
              var k = j + 1
              var tot = sc(j)
              while (k < b && sl(k) == sl(j)) { tot += sc(k); k += 1 }
              // strict > with label-ascending scan = highest count, then
              // smallest label — the column engine's max_by(cnt, -label)
              if (tot > bestCnt) { bestCnt = tot; bestLab = sl(j) }
              j = k
            }
            out(r) = bestLab
            if (bestLab != old(r)) changed += 1
          }
          r += 1
        }
        while (r < nV) { out(r) = old(r); r += 1 } // in-degree-0: keep label
        changedAcc.add(changed)
        out
    }

  /** Community label propagation on the CSR exchange (semantics: column
    * engine's `LabelPropagation` — synchronous, mode-of-neighbor-labels,
    * smaller label on ties, fixed `iterations` budget with early stop at
    * the no-label-moved fixpoint). Build the PrGraph on a bidirectional edge
    * set (e.g. `LinkGraph.undirected`) for the undirected-community reading;
    * message counts are per EDGE, like the column engine. Returns
    * (label blocks, supersteps run); resumable via `cp` (labels are exact
    * state and every superstep is dense, so a resumed run is identical). */
  def labelPropagation(g: PrGraph, iterations: Int,
                       cp: Option[CheckpointConfig] = None): (RDD[RankBlock], Int) =
    iterate[Array[Double], RankBlock](g, Step(idLabels(g)), iterations,
        counted = true, cp, identity, identity)(RankBlock) {
      (labels, _, changed) => labelStep(g, labels, changed, mirror(g, labels)(scalarAt))
    }

  private def singleSourceInit(g: PrGraph, source: Long): RDD[Array[Double]] =
    initState(g, 1, (id, _) => if (id == source) 0.0 else Double.PositiveInfinity)

  /** DataFrame view of the final ranks (conformance tests / sinks). */
  def toDF(spark: SparkSession, ranks: RDD[RankBlock]): DataFrame = {
    val rows = ranks.flatMap(b => b.ids.indices.iterator.map(i => Row(b.ids(i), b.pr(i))))
    spark.createDataFrame(rows,
      StructType(Seq(StructField("id", LongType, false), StructField("pagerank", DoubleType, false))))
  }
}
