package graft.engine

import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{LinkGraph, StorageScope}

/**
 * Message direction — the reference's `edges_t` order flag
 * (`include/GraphProgram.h:33`, dispatch `GraphMatRuntime.h:160-176`).
 * GraphMat's tiles store row=src, col=dst (`DCSCTile.h:241-275`), so:
 *  - OUT_EDGES → SpMTSpV over `AT` (`SPMV.h:80-95`): message travels along
 *    the sender's out-edges; receiver = dst.
 *  - IN_EDGES → SpMSpV over `A` (`SPMV.h:63-78`): receiver = src, gathering
 *    from its out-neighbors (so the bundled Degree program computes
 *    OUT-degree — `src/PageRank.cpp:53-79`).
 *  - ALL_EDGES → both reduced into one result (`GraphMatRuntime.h:168-175`).
 */
sealed trait Direction
object Direction {
  case object Out extends Direction
  case object In extends Direction
  case object All extends Direction
}

/** `ALL_VERTICES` vs `ACTIVE_ONLY` (`include/GraphProgram.h:36`). */
sealed trait Activity
object Activity {
  case object AllVertices extends Activity
  case object ActiveOnly extends Activity
}

/**
 * A vertex program over column expressions — the Spark-native re-expression
 * of `GraphProgram<T,U,V,E>` (`include/GraphProgram.h:38-101`). Everything is
 * declarative DataFrame algebra so Catalyst/Tungsten keep the whole superstep
 * in codegen; no Scala UDFs in the hot path.
 *
 * State contract: `(id: long, active: boolean, <program columns>)`.
 *
 *  - `send`: frontier (state rows to send from) → messages `(id, <msg cols>)`
 *    where id = SENDER. The reference's `send_message` bool gate is a
 *    `.filter`. Msg col names must avoid `id/src/dst/weight/_send/_recv`.
 *  - `gather`: per-edge transform of the routed frame
 *    `(_send, _recv, weight, <msg cols>[, v_<state> when needsRecvState])` —
 *    the ⊗ (`process_message`). Default identity.
 *  - `reduce`: routed frame → `(_recv, <acc cols>)`, normally
 *    `Reduce.byAggs(...)` — the ⊕ (`reduce_function`); must be
 *    commutative+associative (Spark's partial+final agg = the reference's
 *    per-thread partials + cross-rank `union_received`).
 *  - `apply`: (state cols ++ acc cols (null when nothing received), iteration)
 *    → new state incl. `active` and a boolean `_changed`. The reference calls
 *    `apply` ONLY for vertices that received a message and derives `changed`
 *    from `operator!=` (`GraphMatRuntime.h:195-225`) — replicate by keying
 *    changes off acc nullability.
 */
final case class VertexProgramSpec(
    direction: Direction,
    activity: Activity,
    send: DataFrame => DataFrame,
    reduce: DataFrame => DataFrame,
    apply: (DataFrame, Int) => DataFrame,
    gather: DataFrame => DataFrame = identity,
    needsRecvState: Boolean = false,
    maxIterations: Int = -1, // -1 = UNTIL_CONVERGENCE (`GraphMatRuntime.h:51`)
    /** false = fixed-iteration run: skip the per-superstep changed-count job
      * (one action instead of two); convergence is then budget-only, and
      * uncheckpointed small graphs chain two supersteps per job (see `run`). */
    trackChanges: Boolean = true)

object Reduce {
  /** Standard ⊕ as aggregate expressions over the gathered frame, grouped by receiver. */
  def byAggs(aggs: Column*): DataFrame => DataFrame =
    df => df.groupBy("_recv").agg(aggs.head, aggs.tail: _*)

  /**
   * Two-phase salted ⊕ for hub receivers: pre-aggregate on (_recv, salt) —
   * the salt hashes the SENDER, so a hub's in-messages split into `salts`
   * independent partials — then fold the partials by _recv. For Spark's
   * algebraic aggregates (sum/min/max/count) map-side partial aggregation
   * already bounds hub fan-in to one row per map task, so `byAggs` is the
   * right default there; use this for ⊕ whose partials the planner cannot
   * form itself (collect-style or high-cardinality intermediate state).
   * `partial` runs over the raw messages grouped by (_recv, _salt);
   * `merge` folds the partial columns grouped by _recv.
   */
  def saltedByAggs(salts: Int, partial: Seq[Column], merge: Seq[Column]): DataFrame => DataFrame =
    df => df
      .groupBy(col("_recv"), pmod(xxhash64(col("_send")), lit(salts.toLong)).as("_salt"))
      .agg(partial.head, partial.tail: _*)
      .groupBy("_recv")
      .agg(merge.head, merge.tail: _*)
}

final case class IterationMetrics(iteration: Int, changed: Long, millis: Long)

/** The `metrics.jsonl` record of a checkpointed run, shared by both engines:
  * one `{"iteration":…,"changed":…,"millis":…}` line per superstep. */
object IterationMetrics {
  private val line = """\{"iteration":(\d+),"changed":(-?\d+),"millis":(\d+)\}""".r

  /** The `metrics.jsonl` text of `ms`, one newline-terminated line each. */
  def jsonl(ms: Seq[IterationMetrics]): String =
    ms.map(m => s"""{"iteration":${m.iteration},"changed":${m.changed},"millis":${m.millis}}""")
      .mkString("", "\n", "\n")

  /** The supersteps up to `upTo` recorded in a `metrics.jsonl` text. */
  def parse(text: String, upTo: Int): Vector[IterationMetrics] =
    text.linesIterator.collect {
      case line(i, c, m) if i.toInt <= upTo => IterationMetrics(i.toInt, c.toLong, m.toLong)
    }.toVector
}

/** A run's final `state` and its record. `state` reads storage the run
  * pinned; `release()` frees that storage once nothing reads `state` any
  * more (callers that hand `state` on leave it to the session). */
final case class RunResult(
    state: DataFrame, iterations: Int, converged: Boolean,
    metrics: Seq[IterationMetrics])(storage: StorageScope) {
  def release(): Unit = storage.free()
}

object Superstep {

  /** Runs `spec` from `init`, or, with `cp`, from its committed checkpoint
    * when there is one ([[CheckpointConfig]]). */
  def run(graph: LinkGraph, init: DataFrame, spec: VertexProgramSpec,
          cp: Option[CheckpointConfig] = None): RunResult = {
    val n = graph.numPartitions
    require(spec.maxIterations >= 0 || spec.trackChanges,
      "trackChanges=false with maxIterations<0 can never converge (the changed count is the only stop rule)")
    val spark = init.sparkSession
    val sc = spark.sparkContext

    // `cached` is the last materialized frame and `scope` the storage behind
    // it; `state` may be a cheap projection of it. Each materialization gets
    // a fresh scope and frees the previous one. Its rows per partition are
    // the run's lineage record.
    var cached: DataFrame = null
    var scope = new StorageScope
    Using.resource(new Checkpoints(cp, sc, spec.maxIterations, n)(() =>
        cached.queryExecution.toRdd.mapPartitions(it => Iterator.single(it.size.toLong))
          .collect().toSeq.map(rows => Seq("rows" -> rows)))) { ck =>
    val resumed = ck.resume()
    val start = resumed.fold(init)(c => cp.get.store.readState(spark, ck.statePath(c.iteration)))
    val stateCols = start.columns.toSeq
    require(stateCols.contains("id") && stateCols.contains("active"),
      s"state needs id+active, got $stateCols")

    // AQE re-plans and re-compiles codegen for every superstep's jobs, which
    // at graph scale costs more than it saves (measured ~2x per-superstep
    // wall); the loop's plans are static, so pin it off for the duration.
    // With AQE off the loop's ⊕/join exchanges fall back to the session's
    // spark.sql.shuffle.partitions — a constant (the core count in the
    // bench) that at fixture scale costs hundreds of near-empty tasks per
    // superstep. Pin it to the graph's own partition count for the loop:
    // that is the engine's one size-adaptive knob (LinkGraph derives it from
    // input bytes, capped at the session conf), so every per-superstep
    // exchange matches the state/edge partitioning — same width at scale,
    // far fewer tasks on small graphs, and the ⊕ output arrives already
    // co-partitioned with the state for the apply join (guide §2.2, §2.4).
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val shufBefore = spark.conf.get("spark.sql.shuffle.partitions", "200")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try {
    cached = scope.persist(start.repartition(n, col("id")))
    cached.count()
    var state = cached

    var iter = resumed.fold(0)(_.iteration)
    var converged = resumed.exists(_.converged)

    // Supersteps CHAINED lazily per materialization, each segment ONE
    // pipelined Spark job. Tracked and checkpointed runs materialize every
    // superstep (the changed count and the snapshot are per-superstep
    // actions). Fixed-iteration runs chain 2 when the graph's partition
    // count sits BELOW the session's shuffle width: a small graph, whose
    // per-superstep floor is Catalyst planning + job latency, so halving the
    // action count halves the floor. Measured on the 7.8M-edge bench graph,
    // 5 supersteps: k=1 6.18s, k=2 6.15s, k=4 11.6s — ReuseExchange dedups
    // each intermediate state's ⊕ exchange, but everything ABOVE it (the
    // apply join's sort-merge, the apply projection) re-executes once per
    // consuming branch and the branch count doubles per chained superstep,
    // so k>2 loses; and at 7.8M edges k=2 swings between ~equal and 40%
    // SLOWER with the host window. So a graph at the partition cap (a large
    // one, where that recompute is real data) keeps one job per superstep.
    val chain =
      if (spec.trackChanges || cp.isDefined) 1
      else if (n < scala.util.Try(shufBefore.toInt).getOrElse(200)) 2
      else 1
    var sinceMat = 0

    while (!converged && (spec.maxIterations < 0 || iter < spec.maxIterations)) {
      val t0 = System.nanoTime()

      val frontier = spec.activity match {
        case Activity.AllVertices => state
        case Activity.ActiveOnly  => state.filter(col("active"))
      }
      val msgs = spec.send(frontier)
      val routed = route(graph, msgs, spec.direction)
      val withRecvState =
        if (spec.needsRecvState) {
          val vp = state.select(
            (col("id").as("_recv") +: stateCols.filterNot(c => c == "id" || c == "active")
              .map(c => col(c).as(s"v_$c"))): _*)
          routed.join(vp, "_recv")
        } else routed
      val acc = spec.reduce(spec.gather(withRecvState))

      val accCols = acc.columns.filterNot(_ == "_recv").toSeq
      val s = state.alias("s")
      val a = acc.alias("a")
      val joined = s.join(a, col("s.id") === col("a._recv"), "left_outer")
        .select(stateCols.map(c => col(s"s.$c")) ++ accCols.map(c => col(s"a.$c")): _*)

      val applied = spec.apply(joined, iter)
      require(applied.columns.contains("_changed"), "apply must emit _changed")

      iter += 1
      val isLast = spec.maxIterations >= 0 && iter >= spec.maxIterations
      var changed = -1L
      if (sinceMat + 1 >= chain || isLast || spec.trackChanges) {
        // Materialize: localCheckpoint truncates the lineage — `apply` joins
        // the state with an aggregate derived from the same state, so without
        // truncation the logical plan doubles per iteration (exponential
        // analysis time past the chain window). This is the reference's
        // scratch-vector reuse analog (SURVEY.md §4).
        // LAZY checkpoint + one explicit action = ONE job that computes every
        // superstep since the last materialization AND (tracked mode) the
        // changed count — the count reads the freshly persisted blocks in the
        // same job, not a second pass over the superstep's shuffles.
        // SERIALIZED storage is load-bearing: deserialized checkpoints keep
        // ~|V| live row objects resident per superstep and G1 old-gen
        // collection dominates task time (measured 70-90% GC); serialized =
        // one byte buffer per partition block.
        val next = new StorageScope
        val persisted = next.checkpoint(applied, eager = false, StorageLevel.MEMORY_AND_DISK_SER)
        changed =
          if (spec.trackChanges) persisted.filter(col("_changed")).count()
          else { persisted.count(); -1L }

        scope.free()
        scope = next
        cached = persisted
        state = persisted.drop("_changed")
        sinceMat = 0
      } else {
        // Chained superstep: stays lazy; the previous materialized state
        // (`cached`) must remain persisted — every lazy superstep in the
        // segment reads it — so no unpersist until the next materialization.
        state = applied.drop("_changed")
        sinceMat += 1
      }

      converged = changed == 0
      if (ck.commit(iter, converged, changed, (System.nanoTime() - t0) / 1000000)(
            cp.get.store.writeState(state, _))) {
        // the run continues from the snapshot it just wrote
        val next = new StorageScope
        val reloaded = next.persist(cp.get.store.readState(spark, ck.statePath(iter)))
        reloaded.count()
        scope.free()
        scope = next
        cached = reloaded
        state = reloaded
      }
    }
    RunResult(state, iter, converged, ck.metrics)(scope)
    } finally {
      // exception-safe: a failed superstep must not leave the whole session
      // with AQE off (the toggles are loop-scoped, not session-scoped)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.conf.set("spark.sql.shuffle.partitions", shufBefore)
    }
    }
  }

  /** Join messages through the edge table toward the receiver — the SpMV
    * routing step. Edges are pre-clustered on the join key (LinkGraph), so
    * only the (small) frontier shuffles; hub senders take LinkGraph's
    * broadcast-over-salted-shards path so no partition owns a hub's whole
    * edge list; the ⊕ aggregation after `reduce` is the only full-width
    * shuffle per superstep. */
  private def route(graph: LinkGraph, msgs: DataFrame, dir: Direction): DataFrame = {
    def along(senderKey: String, recvKey: String) =
      graph.joinAlong(msgs.withColumnRenamed("id", "_send"), senderKey)
        .withColumn("_recv", col(recvKey))
        .drop("src", "dst")
    dir match {
      case Direction.Out => along("src", "dst")
      case Direction.In  => along("dst", "src")
      case Direction.All => along("src", "dst").unionByName(along("dst", "src"))
    }
  }
}
