package graftbench

import java.io.File

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.{LinkGraph, Transcripts}
import graft.engine.{CsrCheckpoint, DeltaPrCsr, GatherScatter, HadoopSnapshotStore, SnapshotStore, ToposortCsr}
import graft.engine.GatherScatter.{PrGraph, RankBlock}

/**
 * csr_transcript: the seeded transcript graph (sparse, conversation-local,
 * acyclic, hub-free) through the CSR kernels, plus a checkpointed PageRank
 * that is stopped half-way and resumed, so snapshot writes and reads sit
 * beside the read-only kernels.
 */
final class CsrTranscript(spark: SparkSession, opt: Options,
                          snapshots: SnapshotStore = HadoopSnapshotStore) extends Workload {
  /** About 6.5 edges per conversation: 20 000 give about 130 k edges. */
  private val conversations = if (opt.tiny) 2000 else 20000
  /** Vertex ids are convOrd << 20 | turn: keyShift 20 keeps each
    * conversation in one partition. */
  private val keyShift = 20
  private val input = new File(opt.work, s"inputs/transcripts-$conversations-s${opt.seed}")
  private val ckptDir = new File(opt.run, "ckpt").getAbsolutePath
  private val store = new CountingStore(spark.sparkContext.longAccumulator("snapshot-read-ns"), snapshots)

  private var edges: DataFrame = _
  private var g: PrGraph = _
  private var gu: PrGraph = _
  // check-pass results the later checks compare against
  private var convergedRanks: Map[Long, Double] = Map.empty
  private var convergeSteps = 0

  def prepare(): Unit = {
    // a committed checkpoint left from an earlier run would be resumed
    store.deleteIfExists(spark.sparkContext, ckptDir)
    if (!new File(input, "_SUCCESS").exists())
      Transcripts.synthesize(spark, conversations, seed = opt.seed)
        .write.mode("overwrite").parquet(input.getAbsolutePath)
  }

  def setup(tr: Tracer): Unit = {
    tr.span("extract edges", "core.extract", -1) { _ =>
      val t = spark.read.parquet(input.getAbsolutePath)
      edges = Transcripts.edges(Transcripts.vertices(t)).localCheckpoint(eager = true)
    }
    tr.span("build csr graphs", "engine.csr.build", -1) { _ =>
      g = GatherScatter.build(LinkGraph(edges), keyShift = keyShift)
      gu = GatherScatter.build(LinkGraph(edges).undirected, keyShift = keyShift)
    }
  }

  /** The first warm set-up is still about 20% slower than the later ones,
    * which agree: with four, the median is a settled one. */
  def warmSetups: Int = 4

  def facts: Seq[(String, Double)] = Seq(
    "core.edges" -> g.numEdges.toDouble, "core.vertices" -> g.numVertices.toDouble,
    "engine.csr.hot_vertices" -> g.hotIds.length.toDouble, "conversations" -> conversations.toDouble)

  /** PageRank checkpointed after every superstep under `pass-<pass>`: the
    * first leg stops at `maxIterations`, the second finds the committed
    * checkpoint and resumes from it. `check` sees the ranks, the superstep
    * count and the leg's snapshot IO. */
  private def durable(pass: Int, maxIterations: Int = 200)
                     (check: (RDD[RankBlock], Int, Map[String, Double]) => Seq[String]): Outcome = {
    val cp = CsrCheckpoint(ckptDir, s"pass-$pass", every = 1, store = store)
    val before = store.snapshot
    val (r, it) = GatherScatter.pageRankConverged(g, 0.3, 1e-5, maxIterations, Some(cp))
    val io = store.since(before)
    Outcome(Digest.ranks(r), supersteps = it, extra = io,
      check = () => check(r, it, io))
  }

  /** Supersteps of the first durable leg: half of the converged run. */
  private def firstHalf: Int = math.max(1, convergeSteps / 2)

  def calls(pass: Int): Seq[Call] = Seq(
    Call("pagerank", "engine.csr.pagerank", () => {
      val r = GatherScatter.pageRank(g, 0.3, 10)
      Outcome(Digest.ranks(r), work = g.numEdges * 10, supersteps = 10)
    }),
    Call("converge", "engine.csr.converge", () => {
      val (r, it) = GatherScatter.pageRankConverged(g, 0.3, 1e-5)
      Outcome(Digest.ranks(r), g.numEdges * it, it, check = () => {
        convergedRanks = Digest.collect(r)
        convergeSteps = it
        if (it < 2) Seq(s"converged after $it supersteps; the durable leg needs at least 2") else Nil
      })
    }),
    Call("cc", "engine.csr.cc", () => {
      val (r, it) = GatherScatter.connectedComponents(gu)
      Outcome(Digest.ranks(r), gu.numEdges * it, it, check = () => {
        val comps = Digest.collect(r).values.toSet.size.toLong
        Checks.equal("components", comps, conversations.toLong)
      })
    }),
    Call("lp", "engine.csr.lp", () => {
      val (r, it) = GatherScatter.labelPropagation(gu, 5)
      Outcome(Digest.ranks(r), gu.numEdges * it, it)
    }),
    Call("deltapr", "engine.csr.deltapr", () => {
      val (r, it) = DeltaPrCsr.run(g)
      Outcome(Digest.ranks(r), g.numEdges * it, it)
    }),
    Call("toposort", "engine.csr.toposort", () => {
      val (r, it) = ToposortCsr.run(g)
      Outcome(Digest.ranks(r), g.numEdges * it, it, check = () => {
        val order = Digest.collect(r)
        val es = edges.select(col("src"), col("dst")).collect().map(x => (x.getLong(0), x.getLong(1)))
        Checks.topoOrder(order, es)
      })
    }),
    Call("durable_first_half", "engine.snapshot.first_half", () =>
      durable(pass, firstHalf) { (_, it, io) =>
        Checks.equal("first-leg supersteps", it, firstHalf) ++
          Checks.equal("first-leg snapshot writes", io("engine.snapshot.writes"), firstHalf.toDouble)
      }),
    // a resume that silently found no checkpoint would recompute from
    // scratch and still match: the IO counts tell the two apart
    Call("durable_resume", "engine.snapshot.resume", () =>
      durable(pass) { (resumed, it, io) =>
        Checks.equal("resumed superstep count", it, convergeSteps) ++
          Checks.equal("resume snapshot reads", io("engine.snapshot.reads"), 1.0) ++
          Checks.equal("resume snapshot writes", io("engine.snapshot.writes"), (convergeSteps - firstHalf).toDouble) ++
          (if (io("engine.snapshot.read_s") > 0) Nil else Seq("resume read no snapshot blocks")) ++
          Checks.bitIdentical("resumed ranks", Digest.collect(resumed), convergedRanks)
      }))
}
