package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{LinkGraph, StorageScope}
import graft.engine.{Activity, Direction, Reduce, RunResult, Superstep, VertexProgramSpec}

/**
 * Strongly connected components by forward-backward min-label refinement —
 * the parallel FB/coloring family (Fleischer-Hendrickson-Pinar 2000; the
 * "coloring" variant of Slota et al.'s Multistep), re-expressed as block
 * refinement so every phase is the engine's plain HashMin kernel:
 *
 *   block(v) := one label for the whole graph
 *   repeat:
 *     F(v) := min id that reaches v  within block(v)   (forward HashMin)
 *     B(v) := min id v reaches       within block(v)   (backward HashMin)
 *     block(v) := (F(v), B(v))
 *   until no block changed
 *
 * Why this terminates at exactly the SCCs: F(v), B(v) are ids INSIDE v's
 * block, so pairs from different blocks can never coincide — each round the
 * partition strictly refines (or is final). A block uniform in (F,B) must
 * have F = B = min(block): F(m) = m forces the shared F to be the block min
 * m, and B(m) = m forces the shared B to be m too — so every member reaches
 * m and is reached by m, i.e. the block IS an SCC. Conversely an SCC always
 * shares (F,B), so SCCs are never split. Fixpoint ⇔ every block is an SCC,
 * and the shared F is the component's min id — the emitted label.
 *
 * Spark shape: each phase drops cross-block edges (two hash joins against
 * the id-keyed block table — co-partitioned with the superstep state) and
 * runs the ActiveOnly HashMin program of ConnectedComponents on the
 * surviving subgraph, forward then on the transpose. No receiver-state
 * gather, no new ⊕: SCC is pure composition of gated primitives. At 100 TB
 * the per-round subgraph SHRINKS (finished SCCs stop exchanging the moment
 * their block seals), outer rounds are O(log #SCCs-per-chain) in expectation
 * for hash-random ids, and every join/agg keys on vertex id so AQE-visible
 * partitioning is reused across phases. Beyond the reference's app set
 * (GraphMat bundles no SCC); the same run_graph_program loop expresses it
 * (`/root/reference/src/PageRank.cpp:53-79` is the HashMin skeleton's twin).
 */
object Scc {

  /** HashMin to fixpoint over `g` in `dir`; state (id, active, lbl).
    * Identical program to ConnectedComponents.run but honoring edge direction. */
  private def minFix(g: LinkGraph, dir: Direction): RunResult = {
    val init = g.vertices.select(
      col("id"), lit(true).as("active"), col("id").as("lbl"))
    val spec = VertexProgramSpec(
      direction = dir,
      activity = Activity.ActiveOnly,
      send = fr => fr.select(col("id"), col("lbl").as("msg")),
      reduce = Reduce.byAggs(min("msg").as("acc")),
      apply = (df, _) => {
        val changed = col("acc").isNotNull && col("acc") < col("lbl")
        df.select(
          col("id"), changed.as("active"),
          when(changed, col("acc")).otherwise(col("lbl")).as("lbl"),
          changed.as("_changed"))
      })
    Superstep.run(g, init, spec)
  }

  /**
   * Returns (id, scc) where scc = min vertex id of the strongly connected
   * component. `maxOuter` is a safety rail only — the refinement provably
   * reaches its fixpoint (see object doc); hitting the rail throws rather
   * than returning a partial partition.
   */
  def run(graph: LinkGraph, maxOuter: Int = 64): DataFrame = {
    // the block-filter join re-reads the edge table EVERY outer round; an
    // expensive upstream derivation (the transcript fixtures run five window
    // functions) must not be re-evaluated per round
    val edges = graph.edges.persist(StorageLevel.MEMORY_AND_DISK)
    var states = new StorageScope
    var state = states.persist(graph.vertices
      .select(col("id"), lit(0L).as("bf"), lit(0L).as("bb")))
    var round = 0
    var changed = 1L
    while (changed > 0) {
      if (round >= maxOuter) {
        edges.unpersist(blocking = false)
        states.free()
        throw new IllegalStateException(s"Scc: no fixpoint after $maxOuter rounds")
      }
      // edges whose endpoints share a block — the only ones either phase may
      // propagate across this round
      val srcB = state.select(col("id").as("src"), col("bf").as("sbf"), col("bb").as("sbb"))
      val dstB = state.select(col("id").as("dst"), col("bf").as("dbf"), col("bb").as("dbb"))
      val inBlock = edges
        .join(srcB, "src").join(dstB, "dst")
        .filter(col("sbf") === col("dbf") && col("sbb") === col("dbb"))
        .select("src", "dst", "weight")
      val sub = LinkGraph(inBlock, graph.numPartitions)
      val fRun = minFix(sub, Direction.Out)
      val bRun = minFix(sub, Direction.In)
      val f = fRun.state.select(col("id"), col("lbl").as("f"))
      val b = bRun.state.select(col("id"), col("lbl").as("b"))
      // vertices isolated in the subgraph keep themselves as both labels
      val next = state
        .join(f, Seq("id"), "left_outer")
        .join(b, Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(col("f"), col("id")).as("nbf"),
          coalesce(col("b"), col("id")).as("nbb"),
          (coalesce(col("f"), col("id")) =!= col("bf") ||
           coalesce(col("b"), col("id")) =!= col("bb")).as("chg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      changed = next.filter(col("chg")).count()
      // truncate lineage at each outer round: the next round's joins stack
      // on this frame, and Superstep's own checkpoints don't cover it
      val stateScope = new StorageScope
      state = stateScope.checkpoint(next.select("id", "nbf", "nbb")
        .toDF("id", "bf", "bb"))
      states.free()
      states = stateScope
      next.unpersist(blocking = false)
      fRun.release(); bRun.release()
      sub.unpersistAll()
      round += 1
    }
    // state is an eager localCheckpoint — independent of the edge cache
    edges.unpersist(blocking = false)
    state.select(col("id"), col("bf").as("scc"))
  }

  /**
   * Same refinement, inner fixpoints on the CSR (min, +) kernel
   * ([[graft.engine.GatherScatter.connectedComponents]] over the directed
   * subgraph — forward as-is, backward on the reversed edge set). Bit-equal
   * to [[run]]: both phases are exact integer HashMin (labels are vertex
   * ids, exact in a Double below 2^53 — the kernel enforces that), so the
   * engines' fixpoints are identical, not merely close. Each outer round
   * rebuilds the two small CSR snapshots of the SHRINKING in-block subgraph
   * — two passes over the surviving edges, repaid because a CSR superstep
   * costs milliseconds where a column-engine superstep costs a full
   * Catalyst job (~0.8 s floor at any size). `run` stays as the
   * semantics reference; this is the perf path the g_scc gate runs.
   */
  def runFast(graph: LinkGraph, maxOuter: Int = 64): DataFrame = {
    import graft.engine.GatherScatter
    val spark = graph.edges.sparkSession
    val nP = graph.numPartitions
    val edges = graph.edges.persist(StorageLevel.MEMORY_AND_DISK)
    // The in-block filter's input SHRINKS round over round: an edge dropped
    // once can never re-qualify — sealed endpoints stay sealed, and blocks
    // strictly refine (a block's new labels are ids OF that block's
    // vertices, so vertices in different blocks can never converge to the
    // same label). Each round therefore joins against the PREVIOUS round's
    // survivors, not the full edge table — the join input follows the
    // recursion's remainder instead of rescanning |E| every round.
    var curEdges = edges
    // each round's survivor edge set and state snapshot, freed one round
    // behind, or round 1's near-|E| copy (and every later round's) stays
    // pinned until driver GC
    var survivors = new StorageScope
    var states = new StorageScope
    // done = F(v) == B(v): the shared label m both reaches v and is reached
    // by v inside the block, so m ∈ SCC(v); and F ≤ min(SCC) always (the SCC
    // min reaches v), so m IS min(SCC(v)) — v's final label. Every member of
    // an SCC seals in the same round (mutually-reachable vertices share
    // ancestor/descendant sets within their common block), so done vertices
    // and their edges can drop out of all later rounds — the classic FB-SCC
    // "remove the identified component and recurse on the remainder": the
    // subgraph SHRINKS monotonically and the last round degenerates to one
    // cheap emptiness check instead of two full fixpoints.
    // vertex set from the locally persisted edge table (one explode pass)
    // rather than graph.vertices: the latter would materialize the graph's
    // whole clustered-view cache just to enumerate ids — runFast routes
    // nothing through that view (its fixpoints run on per-round CSR builds)
    var state = states.persist(edges
      .select(explode(array(col("src"), col("dst"))).as("id")).distinct()
      .select(col("id"), lit(0L).as("bf"), lit(0L).as("bb"),
        lit(false).as("done")))
    var round = 0
    var changed = 1L
    while (changed > 0) {
      if (round >= maxOuter) {
        edges.unpersist(blocking = false)
        survivors.free(); states.free()
        throw new IllegalStateException(s"Scc: no fixpoint after $maxOuter rounds")
      }
      val live = state.filter(!col("done"))
      val srcB = live.select(col("id").as("src"), col("bf").as("sbf"), col("bb").as("sbb"))
      val dstB = live.select(col("id").as("dst"), col("bf").as("dbf"), col("bb").as("dbb"))
      // eager localCheckpoint, not a lazy persist: rounds now CHAIN (this
      // round's survivors feed the next round's join), so lineage must be
      // cut per round or the logical plan grows with the round count.
      // Round 0 is an identity passthrough — every vertex carries the same
      // (0,0) block and nothing is done, so the in-block filter keeps every
      // edge — skip the two joins AND the ~|E| checkpoint and feed the
      // already-persisted edge table to the first fixpoints directly (r06;
      // at the 16M-edge rehearsal this join+checkpoint was ~1/3 of the leg)
      val inBlockScope = new StorageScope
      val inBlock =
        if (round == 0) edges.select("src", "dst", "weight")
        else inBlockScope.checkpoint(curEdges
          .join(srcB, "src").join(dstB, "dst")
          .filter(col("sbf") === col("dbf") && col("sbb") === col("dbb"))
          .select("src", "dst", "weight"))
      val (next, toFree) =
        if (inBlock.isEmpty) {
          // no edges among live vertices: each is alone — F = B = own id
          (state.select(col("id"),
             when(col("done"), col("bf")).otherwise(col("id")).as("nbf"),
             when(col("done"), col("bb")).otherwise(col("id")).as("nbb"),
             (!col("done") &&
              (col("id") =!= col("bf") || col("id") =!= col("bb"))).as("chg")),
           Seq.empty[() => Unit])
        } else {
          val fwd = GatherScatter.build(LinkGraph(inBlock, nP), nP)
          val bwd = GatherScatter.build(LinkGraph(
            inBlock.select(col("dst").as("src"), col("src").as("dst"), col("weight")),
            nP), nP)
          val (fL, _) = GatherScatter.connectedComponents(fwd)
          val (bL, _) = GatherScatter.connectedComponents(bwd)
          val f = GatherScatter.toDF(spark, fL)
            .select(col("id"), col("pagerank").cast("long").as("f"))
          val b = GatherScatter.toDF(spark, bL)
            .select(col("id"), col("pagerank").cast("long").as("b"))
          // done rows keep their sealed labels; live rows isolated in the
          // remainder coalesce to themselves (singleton SCCs — they seal too)
          (state
             .join(f, Seq("id"), "left_outer")
             .join(b, Seq("id"), "left_outer")
             .select(col("id"),
               when(col("done"), col("bf"))
                 .otherwise(coalesce(col("f"), col("id"))).as("nbf"),
               when(col("done"), col("bb"))
                 .otherwise(coalesce(col("b"), col("id"))).as("nbb"),
               (!col("done") &&
                (coalesce(col("f"), col("id")) =!= col("bf") ||
                 coalesce(col("b"), col("id")) =!= col("bb"))).as("chg")),
           // free the fixpoints' persisted label blocks too, not just the graphs
           Seq(() => fwd.unpersist(), () => bwd.unpersist(),
               () => { fL.unpersist(false); () }, () => { bL.unpersist(false); () }))
        }
      val nextP = next.persist(StorageLevel.MEMORY_AND_DISK)
      // one pass computes both stop signals: label changes this round, and
      // how many vertices remain unsealed — zero unsealed is a fixpoint by
      // construction (sealed labels are frozen), so the loop can end WITHOUT
      // spending a further round just to observe changed=0
      val sig = nextP.agg(
        sum(when(col("chg"), 1L).otherwise(0L)),
        sum(when(col("nbf") === col("nbb"), 0L).otherwise(1L))).head()
      val liveLeft = if (sig.isNullAt(1)) 0L else sig.getLong(1)
      changed = if (liveLeft == 0L || sig.isNullAt(0)) 0L else sig.getLong(0)
      val stateScope = new StorageScope
      state = stateScope.checkpoint(
        nextP.select(col("id"), col("nbf").as("bf"), col("nbb").as("bb"),
          (col("nbf") === col("nbb")).as("done")))
      states.free()
      states = stateScope
      nextP.unpersist(blocking = false)
      // this round's in-block survivors BECOME the next round's join input;
      // the previous survivor checkpoint (fully consumed by this round's
      // derivation and fixpoints) is released one round behind
      survivors.free()
      survivors = inBlockScope
      curEdges = inBlock
      toFree.foreach(_.apply())
      round += 1
    }
    edges.unpersist(blocking = false)
    survivors.free()
    state.select(col("id"), col("bf").as("scc"))
  }
}
