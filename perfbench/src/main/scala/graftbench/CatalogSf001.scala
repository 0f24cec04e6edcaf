package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/**
 * catalog_sf001: a fixed subset of the oracle-gated catalog queries
 * (`SparkEntry.queries`) on the bundled sf0.01 tables. Inputs are small, so
 * per-job fixed costs dominate: Catalyst planning, job launch, checkpoints.
 * The tables are fixed; the seed permutes the query order. Each result's
 * digest must equal the golden one, captured from results that matched the
 * DuckDB oracle SQL of the same queries.
 */
final class CatalogSf001(spark: SparkSession, opt: Options) extends Workload {
  import CatalogSf001._
  private val dir = new File(opt.home, "data/sf0.01").getAbsolutePath
  private val goldenFile = new File(opt.home, "golden/catalog_sf001.tsv")
  private lazy val golden: Map[String, String] =
    if (!goldenFile.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(goldenFile, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(_.split('\t')).map(a => a(0) -> a(1)).toMap
      finally src.close()
    }
  private val order = new scala.util.Random(opt.seed).shuffle(if (opt.tiny) metricOf.take(3) else metricOf)
  private var rows = 0L

  def prepare(): Unit = {
    tables.foreach { t =>
      require(new File(dir, s"$t.parquet").exists(), s"missing input table $dir/$t.parquet")
    }
    opt.captureGolden.foreach(captureGolden)
  }

  /** Rewrite the golden digests from `<dir>/<query>` parquet results (the
    * output of `graft.Verify`, after it matched the DuckDB oracle). */
  private def captureGolden(results: File): Unit = {
    goldenFile.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(goldenFile, "UTF-8")
    try queries.sorted.foreach { q =>
      out.println(s"$q\t${Digest.frame(spark.read.parquet(new File(results, q).getAbsolutePath))}")
    } finally out.close()
  }

  /** A set-up is about a second here, so more of them are cheap and steady the median. */
  def warmSetups: Int = 3

  def setup(tr: Tracer): Unit =
    tr.span("read tables", "catalog.tables", -1) { _ =>
      rows = tables.map(t => spark.read.parquet(s"$dir/$t.parquet").count()).sum
    }

  def facts: Seq[(String, Double)] = Seq("table_rows" -> rows.toDouble, "queries" -> order.size.toDouble)

  def calls(pass: Int): Seq[Call] = order.map { case (q, metric) =>
    val fn = graft.SparkEntry.queries(q)
    Call(q, metric, () => {
      val d = Digest.frame(fn(spark, dir))
      Outcome(d, check = () => Checks.equal(s"digest of $q", d, golden.getOrElse(q, "<no golden>")))
    })
  }
}

object CatalogSf001 {
  val tables: Seq[String] = Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")

  /** The timed subset, each with the per-layer metric its wall counts
    * toward: one or a few cheap queries from every part of the catalog.
    * `g_degree` is a one-superstep Column-engine program and `g_triangle`
    * an `algos` call; multi-superstep Column gates (g_lp 4 s, g_pagerank and
    * g_cc 6 s, g_coloring 10 s) do not fit the run's budget. */
  val metricOf: Seq[(String, String)] = Seq(
    "q1_agg" -> "queries.relational", "q_join" -> "queries.relational",
    "q_topk" -> "queries.relational", "e_bidir" -> "queries.edgeops",
    "g_degree" -> "engine.column.degree", "g_triangle" -> "algos.triangle",
    "m_features" -> "pipeline.catalog", "d_sample" -> "pipeline.catalog",
    "t_tokens" -> "pipeline.catalog", "io_mtx" -> "streaming.catalog",
    "st_rates" -> "streaming.catalog")

  val queries: Seq[String] = metricOf.map(_._1)
}
