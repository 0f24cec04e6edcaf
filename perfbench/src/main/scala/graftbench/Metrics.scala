package graftbench

/** Turns a [[RunResult]] into the named metrics BENCHMARK.json declares. */
object Metrics {

  final case class M(name: String, unit: String, value: Double)

  /** `query_tail_s` is the mean of the per-call medians at or above this
    * percentile (nearest rank). A pass holds 8 to 11 calls: any single order
    * statistic there is one call's wall, and jumps when two calls trade
    * places; the mean of the slowest quarter does not. */
  val TailPercentile = 75.0

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "query_p50_s" -> "s", "query_tail_s" -> "s",
    "storage_peak_mb" -> "MB")

  private val catalogMetrics = Seq("queries.edgeops",
    "queries.relational", "pipeline.catalog", "streaming.catalog")

  /** Span metric names whose summed wall per pass is reported as `<name>_s`. */
  private val timed = Seq("core.extract", "engine.csr.build") ++
    Seq("pagerank", "converge", "cc", "lp", "deltapr", "toposort").map("engine.csr." + _) ++
    Seq("engine.snapshot.resume", "engine.column.degree", "algos.triangle") ++ catalogMetrics

  private val supersteps = Seq("engine.csr.converge", "engine.csr.cc", "engine.csr.deltapr",
    "engine.csr.toposort")

  private val snapshotExtras = Seq("write_s" -> "s", "write_bytes" -> "B", "writes" -> "count",
    "read_s" -> "s").map { case (k, u) => s"engine.snapshot.$k" -> u }

  /** In BENCHMARK.json order. */
  val perLayer: Seq[(String, String)] =
    Seq("core.extract_s" -> "s", "core.edges" -> "count", "core.vertices" -> "count",
      "engine.csr.build_s" -> "s", "engine.csr.hot_vertices" -> "count") ++
    timed.slice(2, 8).map(m => s"${m}_s" -> "s") ++
    supersteps.map(m => s"${m}_supersteps" -> "count") ++
    Seq("edges_per_s" -> "edges/s", "engine.csr.shuffle_bytes_per_edge" -> "B/edge",
      "engine.csr.busy_frac" -> "ratio", "engine.csr.gc_s" -> "s") ++
    snapshotExtras ++
    Seq("engine.snapshot.resume_s" -> "s", "engine.snapshot.durable_converge_s" -> "s",
      "engine.column.degree_s" -> "s", "engine.column.jobs" -> "count",
      "engine.column.stages" -> "count", "engine.column.planning_s" -> "s",
      "engine.column.shuffle_bytes" -> "B", "engine.column.spill_bytes" -> "B",
      "engine.column.busy_frac" -> "ratio", "algos.triangle_s" -> "s") ++
    Seq("queries.graph_s" -> "s") ++ catalogMetrics.map(m => s"${m}_s" -> "s") ++
    Seq("queries.jobs" -> "count", "queries.planning_s" -> "s", "queries.shuffle_bytes" -> "B",
      "queries.rdds_persisted" -> "count",
      "trace.overhead_frac" -> "ratio", "trace.unattributed_jobs" -> "count",
      "trace.spans" -> "count", "host.calib_ms" -> "ms", "host.steal_pct" -> "%")

  private def calls(r: RunResult, passes: Set[Int]): Seq[Span] =
    r.spans.filter(s => passes.contains(s.pass) && s.metric != "pass")

  /** Median over `passes` of a per-pass aggregate of that pass's call spans. */
  private def perPass(r: RunResult, passes: Set[Int])(f: Seq[Span] => Double): Double =
    if (passes.isEmpty) 0.0
    else Stats.median(passes.toSeq.map(p => f(calls(r, Set(p)))))

  /** Timed passes to read walls from: the untraced ones when the run traced. */
  private def wallPasses(r: RunResult): Set[Int] = {
    val untraced = r.passWalls.filterNot(_._2).map(_._1)
    (if (untraced.nonEmpty) untraced else r.passWalls.map(_._1)).toSet
  }

  /** Each call's best wall over the timed passes: host contention only ever
    * adds time, and on a shared host it comes in bursts of seconds. */
  def endToEndOf(r: RunResult): Seq[M] = {
    val perCall = calls(r, wallPasses(r)).groupBy(_.name).values.map(_.map(_.wallS).min).toSeq
    Seq(
      M("setup_s", "s", Stats.median(r.setupWalls)),
      M("run_s", "s", perCall.sum),
      M("query_p50_s", "s", Stats.median(perCall)),
      M("query_tail_s", "s", Stats.tailMean(perCall, TailPercentile)),
      M("storage_peak_mb", "MB", r.storagePeakBytes / 1e6))
  }

  def perLayerOf(r: RunResult, facts: Map[String, Double], host: Host, unattributed: Long): Seq[M] = {
    val ps = wallPasses(r)
    val traced = r.passWalls.filter(_._2).map(_._1).toSet
    def sumWall(m: String)(ss: Seq[Span]) = ss.filter(_.metric == m).map(_.wallS).sum
    def timeOf(m: String): Double =
      if (calls(r, ps).exists(_.metric == m)) perPass(r, ps)(sumWall(m))
      else {
        val setup = r.spans.filter(s => s.pass == -1 && s.metric == m).map(_.wallS)
        if (setup.isEmpty) 0.0 else Stats.median(setup)
      }
    val check = calls(r, Set(0))
    def steps(m: String) = check.filter(_.metric == m).map(_.supersteps.toDouble).sum
    def counters(pred: Span => Boolean)(f: Seq[Span] => Double) =
      perPass(r, traced)(ss => f(ss.filter(pred)))
    val csrKernel = (s: Span) => s.metric.startsWith("engine.csr.") && s.metric != "engine.csr.build"
    val column = (s: Span) => s.metric.startsWith("engine.column.")
    val catalog = (s: Span) => CatalogSf001.queries.contains(s.name)
    def busy(ss: Seq[Span]) = {
      val wall = ss.map(_.wallS).sum
      if (wall <= 0) 0.0 else ss.map(_.taskMs).sum / 1000.0 / (wall * Main.Cores)
    }
    def medianWall(traced: Boolean) = {
      val ws = r.passWalls.filter(_._2 == traced).map(_._3)
      if (ws.isEmpty) 0.0 else Stats.median(ws)
    }
    val (tracedWall, untracedWall) = (medianWall(true), medianWall(false))

    val values: Map[String, Double] = facts ++
      timed.map(m => s"${m}_s" -> timeOf(m)) ++
      supersteps.map(m => s"${m}_supersteps" -> steps(m)) ++
      snapshotExtras.map { case (k, _) => k -> perPass(r, ps)(_.map(_.extra.getOrElse(k, 0.0)).sum) } ++
      Map(
        "edges_per_s" -> perPass(r, ps) { ss =>
          val w = ss.filter(_.work > 0)
          Stats.edgesPerSecond(w.map(_.work).sum, w.map(_.wallS).sum)
        },
        "engine.csr.shuffle_bytes_per_edge" -> counters(s => csrKernel(s) && s.work > 0) { ss =>
          Stats.bytesPerEdge(ss.map(_.shuffleWrite).sum, ss.map(_.work).sum)
        },
        // every graph gate, also those counted by their engine layer
        "queries.graph_s" -> perPass(r, ps)(_.filter(_.name.startsWith("g_")).map(_.wallS).sum),
        "engine.csr.busy_frac" -> counters(csrKernel)(busy),
        "engine.csr.gc_s" -> counters(csrKernel)(_.map(_.gcMs).sum / 1000.0),
        "engine.snapshot.durable_converge_s" ->
          perPass(r, ps)(ss => sumWall("engine.snapshot.first_half")(ss) + sumWall("engine.snapshot.resume")(ss)),
        "engine.column.jobs" -> counters(column)(_.map(_.jobs).sum.toDouble),
        "engine.column.stages" -> counters(column)(_.map(_.stages).sum.toDouble),
        "engine.column.planning_s" -> counters(column)(_.map(_.planningMs).sum / 1000.0),
        "engine.column.shuffle_bytes" -> counters(column)(_.map(_.shuffleWrite).sum.toDouble),
        "engine.column.spill_bytes" -> counters(column)(_.map(_.spill).sum.toDouble),
        "engine.column.busy_frac" -> counters(column)(busy),
        "queries.jobs" -> counters(catalog)(_.map(_.jobs).sum.toDouble),
        "queries.planning_s" -> counters(catalog)(_.map(_.planningMs).sum / 1000.0),
        "queries.shuffle_bytes" -> counters(catalog)(_.map(_.shuffleWrite).sum.toDouble),
        "queries.rdds_persisted" -> counters(catalog)(_.map(_.released).sum.toDouble),
        "trace.overhead_frac" -> (if (untracedWall > 0) tracedWall / untracedWall - 1 else 0.0),
        "trace.unattributed_jobs" -> unattributed.toDouble,
        "trace.spans" -> r.spans.size.toDouble,
        "host.calib_ms" -> host.calibMs,
        "host.steal_pct" -> host.stealPct)
    perLayer.map { case (n, u) => M(n, u, values.getOrElse(n, 0.0)) }
  }
}
