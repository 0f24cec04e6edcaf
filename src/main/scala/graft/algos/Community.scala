package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.LinkGraph

/**
 * Community quality: Newman modularity of a vertex partition over the
 * undirected simple view — Q = Σ_c [ m_c/m − (d_c/(2m))² ] with m the
 * canonical edge count, m_c the intra-community edge count and d_c the
 * community degree sum. The standard score for the engine's label
 * propagation output (and any other partition column).
 *
 * Shape at scale: two broadcast-free aggregations — edges join the label
 * table on both endpoints (hash join on the vertex key), degrees are one
 * groupBy — then a K-row community fold; nothing is collected.
 */
object Modularity {

  /**
   * One-row (m, n_communities, modularity) for `labels` = (id, label).
   * Degrees count the undirected simple view (each canon edge contributes
   * one to both endpoints). Every edge endpoint needs exactly one label
   * (LP/CC output has one per vertex): a missing label would silently drop
   * edges and a repeated one would count them twice, so either fails the
   * call with an IllegalArgumentException.
   */
  def score(graph: LinkGraph, labels: DataFrame): DataFrame = {
    // `tagged` feeds THREE consumers (edge count, degree fold, intra fold);
    // materialize it once instead of re-running the upstream edge derivation
    // per branch (guide §2.4 — the fixtures derive edges through window
    // functions, so each re-evaluation was a full window pipeline)
    val canon = graph.edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // one row per labelled id with its label count; the outer joins keep
    // an unlabelled endpoint as a null count
    def tag(end: String) = labels.groupBy(col("id").as(end))
      .agg(first("label").as(s"l$end"), count(lit(1)).as(s"n$end"))
    val tagged = canon.join(tag("a"), Seq("a"), "left_outer")
      .join(tag("b"), Seq("b"), "left_outer").localCheckpoint()
    // the edge count and the label check are one job
    val counts = tagged.agg(count(lit(1)),
      count(when(coalesce(col("na"), lit(0L)) =!= 1L ||
                 coalesce(col("nb"), lit(0L)) =!= 1L, 1))).head()
    require(counts.getLong(1) == 0L,
      s"Modularity.score: ${counts.getLong(1)} edges have an endpoint without exactly one label")
    val m = counts.getLong(0).toDouble
    // d_c: every canon edge credits 1 to each endpoint's community
    val degSum = tagged.select(explode(array(col("la"), col("lb"))).as("c"))
      .groupBy("c").agg(count(lit(1)).as("d"))
    val intra = tagged.filter(col("la") === col("lb"))
      .groupBy(col("la").as("c")).agg(count(lit(1)).as("e"))
    degSum.join(intra, Seq("c"), "left_outer")
      .select((coalesce(col("e"), lit(0L)) / m
        - pow(col("d") / (2.0 * m), 2)).as("q"))
      .agg(lit(m.toLong).as("m"), count(lit(1)).as("n_communities"),
        round(sum(col("q")) + 1e-9, 6).as("modularity"))
  }
}
