package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * A directed edge. Mirrors the reference's `edge_t<T>` (GraphMat
 * `include/GMDP/utils/edgelist.h:38-50`) with 64-bit vertex ids (the reference
 * uses 1-based int32; we keep stable Longs — cf. SURVEY.md §1.4) and a Double
 * payload (the reference templates the payload; every bundled algorithm uses a
 * numeric weight).
 */
final case class Edge(src: Long, dst: Long, weight: Double)

/**
 * Distributed link graph: the Spark-native analog of GraphMat's
 * `Graph<V,E>` (`include/Graph.h:58-107`), which materializes the adjacency
 * matrix `A` and its transpose `AT` so both push (OUT_EDGES) and pull
 * (IN_EDGES) are a forward SpMV.
 *
 * Here the graph is ONE immutable edge DataFrame `(src, dst, weight)`, with
 * two lazily-cached *clustered* views:
 *   - `edgesBySrc`: hash-partitioned by `src`, sorted within partitions by
 *     (src, dst) — the CSR-style layout for message flow along out-edges
 *     (sender joins on src);
 *   - `edgesByDst`: hash-partitioned by `dst`, sorted by (dst, src) — the
 *     CSC-style layout for flow along in-edges.
 *
 * Pre-partitioning means the per-superstep join against the frontier never
 * re-shuffles the (large) edge side: Catalyst's EnsureRequirements sees the
 * existing HashPartitioning and only shuffles the (small) frontier. This is
 * the Spark analog of GraphMat's one-time `ingestEdgelist` all-to-all
 * (`SpMat.h:97-278`) + per-tile DCSC build.
 *
 * Vertex state lives OUTSIDE this holder (immutable per-superstep DataFrames),
 * unlike the reference's in-place `vertexproperty` vector.
 */
final class LinkGraph private (
    val edges: DataFrame,
    val numPartitions: Int,
    /** Endpoint degree above which a vertex is treated as a hub by the
      * superstep router (north rule: salted hot vertices / degree-aware
      * split). 0 = automatic (a quarter of an average partition's edges);
      * < 0 disables the split. */
    val hotDegree: Long = 0L) extends Serializable {

  import LinkGraph._

  private[this] var bySrc: Option[DataFrame] = None
  private[this] var byDst: Option[DataFrame] = None
  private[this] var hotBySalt: collection.mutable.Map[String, DataFrame] =
    collection.mutable.Map.empty
  private[this] var hotCache: collection.mutable.Map[String, Array[Long]] =
    collection.mutable.Map.empty

  /** Edges clustered for joins on `src` (messages along OUT edges).
    * Derived from the OTHER clustered view when that one is already cached —
    * re-clustering cached blocks is one exchange, where re-deriving `edges`
    * re-runs its whole upstream pipeline (the transcript fixtures run window
    * functions; guide §2.4 — don't recompute what a cached exchange holds). */
  def edgesBySrc: DataFrame = synchronized {
    bySrc.getOrElse {
      val df = byDst.getOrElse(edges)
        .repartition(numPartitions, col("src"))
        .sortWithinPartitions("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
      bySrc = Some(df)
      df
    }
  }

  /** Edges clustered for joins on `dst` (messages along IN edges) — the `AT` analog. */
  def edgesByDst: DataFrame = synchronized {
    byDst.getOrElse {
      val df = bySrc.getOrElse(edges)
        .repartition(numPartitions, col("dst"))
        .sortWithinPartitions("dst", "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
      byDst = Some(df)
      df
    }
  }

  private def effectiveHotDegree: Long =
    if (hotDegree > 0) hotDegree
    else math.max(4096L, numEdges / numPartitions / 4)

  /** Hub endpoints on `key` (src|dst): degree above the hot threshold. One
    * aggregate over the edges, computed lazily and memoized; by definition
    * the result is small (otherwise the threshold is wrong). Guard: the hub
    * list feeds `isInCollection` filters (rebuilt in three Catalyst plans per
    * superstep) and a broadcast of the hub edge shards — past `maxHubs` that
    * degrades planning instead of helping, and a "hub" list that large means
    * the threshold is miscalibrated for this degree distribution (they are
    * not really hubs). Fall back to the plain pre-partitioned join, which is
    * the right plan exactly then. Mirrors GatherScatter.build's hard cap. */
  def hotIds(key: String): Array[Long] = synchronized {
    hotCache.getOrElseUpdate(key, {
      if (hotDegree < 0) Array.emptyLongArray
      else {
        // aggregate over the cached clustered view when one exists — this
        // runs as an eager action during route-plan construction, so going
        // through the cache both avoids a full re-derivation AND populates
        // the view the first superstep is about to need (guide §2.4)
        val hot = cachedEdges.groupBy(col(key)).count()
          .filter(col("count") > effectiveHotDegree)
          .select(col(key)).limit(maxHubs + 1).collect().map(_.getLong(0)).sorted
        if (hot.length > maxHubs) Array.emptyLongArray else hot
      }
    })
  }

  /** A hub's edge list spread evenly over all partitions (salted by the
    * OTHER endpoint) instead of clustered on one — the degree-aware split. */
  private def hotEdges(key: String, other: String): DataFrame = synchronized {
    hotBySalt.getOrElseUpdate(key, {
      val df = cachedEdges.filter(col(key).isInCollection(hotIds(key)))
        .repartition(numPartitions, col(other))
        .persist(StorageLevel.MEMORY_AND_DISK)
      df
    })
  }

  /**
   * The superstep routing join with hub splitting: messages (keyed `_send`)
   * joined through the edges clustered on `senderKey`. Cold srcs use the
   * pre-partitioned edge view (only the frontier shuffles); hub srcs — whose
   * edge lists would otherwise pin one partition — use a BROADCAST of their
   * (few, by definition) frontier rows against their salted edge shards, so
   * a million-edge hub costs every partition |E_hub|/n instead of one
   * partition |E_hub|. Row set is identical either way.
   */
  def joinAlong(msgs: DataFrame, senderKey: String): DataFrame = {
    val clustered = if (senderKey == "src") edgesBySrc else edgesByDst
    val hot = hotIds(senderKey)
    if (hot.isEmpty) msgs.join(clustered, col("_send") === col(senderKey))
    else {
      val cold = msgs.filter(!col("_send").isInCollection(hot))
        .join(clustered.filter(!col(senderKey).isInCollection(hot)),
          col("_send") === col(senderKey))
      val hotJoin = broadcast(msgs.filter(col("_send").isInCollection(hot)))
        .join(hotEdges(senderKey, if (senderKey == "src") "dst" else "src"),
          col("_send") === col(senderKey))
      cold.unionByName(hotJoin)
    }
  }

  /** The cheapest full-row view of the edges: a cached clustered view when
    * one exists (scan of materialized blocks), else the raw `edges` plan.
    * For consumers that need one pass over all edges without caring about
    * partitioning (e.g. the CSR builder's ingest projection). */
  def cachedEdges: DataFrame = synchronized {
    bySrc.orElse(byDst).getOrElse(edges)
  }

  private[this] var vertsCached = false

  /** Distinct vertex ids appearing as src or dst (GraphMat derives the vertex
    * set from matrix dims; with arbitrary Long ids we take the union).
    * Reads the cached clustered edge view when one exists (and forces the
    * src view otherwise): nearly every caller of `vertices` also routes
    * messages through the clustered views, so deriving the vertex set from
    * the cache turns a second full upstream evaluation into a scan of
    * already-materialized blocks (guide §2.4). */
  lazy val vertices: DataFrame = {
    vertsCached = true
    val e = synchronized { bySrc.orElse(byDst) }.getOrElse(edgesBySrc)
    e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .repartition(numPartitions, col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  lazy val numEdges: Long = cachedEdges.count()
  lazy val numVertices: Long = vertices.count()

  /** Undirected view: each distinct unordered pair once in each direction.
    * (Dedup first, so a graph holding both (u,v) and (v,u) does not
    * double-count neighbors.) */
  def undirected: LinkGraph = {
    // explode instead of self-union: the union form evaluated the canonical
    // dedup (and its whole upstream derivation) once per direction (guide
    // §2.4); one pass emits both directions of each surviving pair
    val canon = edges
      .select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"),
        col("weight"))
      .filter(col("src") =!= col("dst"))
      .dropDuplicates("src", "dst")
    val both = canon.select(explode(array(
        struct(col("src"), col("dst"), col("weight")),
        struct(col("dst").as("src"), col("src").as("dst"), col("weight")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.weight").as("weight"))
    new LinkGraph(both, numPartitions, hotDegree)
  }

  /** Same graph with a different hub threshold (fresh clustered-view caches). */
  def copyWithHotDegree(hd: Long): LinkGraph = new LinkGraph(edges, numPartitions, hd)

  def unpersistAll(): Unit = synchronized {
    bySrc.foreach(_.unpersist()); bySrc = None
    byDst.foreach(_.unpersist()); byDst = None
    hotBySalt.values.foreach(_.unpersist()); hotBySalt.clear()
    hotCache.clear()
    // a lazy val can't be reset — drop its cache entry if it was built
    // (subsequent uses recompute uncached, which is the right post-cleanup
    // behavior for a graph being released)
    if (vertsCached) vertices.unpersist()
  }
}

object LinkGraph {

  /** Hub-split fallback bound — see `hotIds`. */
  val maxHubs: Int = 4096

  /** Target bytes per graph partition for the size-adaptive default below
    * (guide §2: derive partitioning from input size, not a constant tuned
    * for one deployment). 512 KB of PLAN-estimated bytes ≈ a few hundred
    * thousand routed message rows per superstep task (plan estimates come
    * from pruned parquet columns and undercount materialized row width) —
    * measured: 1 partition per ~1.4 MB estimate serialized a 500k-message
    * superstep to >1.3 s/task, while this target keeps tasks ~50-150 ms.
    * Overridable via env; at scale the conf cap binds, not the target. */
  val partitionTargetBytes: Long =
    sys.env.get("SPARK_GRAFT_PART_TARGET_KB").map(_.toLong << 10).getOrElse(512L << 10)

  /** Size-adaptive partition count: `bytes / target`, clamped to
    * [1, spark.sql.shuffle.partitions]. The cap keeps behavior identical to
    * the old constant (`numShufflePartitions`) for large inputs — and the
    * conf is the production-scale knob — while small inputs stop paying
    * hundreds of near-empty tasks per superstep. Catalyst's estimate is used
    * as-is: joins/aggregates can inflate it, which only drives the count
    * back to the old cap, never past it. */
  def adaptivePartitions(df: DataFrame): Int = {
    val conf = df.sparkSession.sessionState.conf
    val cap = conf.numShufflePartitions
    val bytes =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case _: Exception => BigInt(Long.MaxValue) }
    val est = bytes / partitionTargetBytes + 1
    if (est >= cap) cap else math.max(1, est.toInt)
  }

  /** Partition count for a known row count (callers that track cardinality
    * directly, e.g. the streaming rank maintainer's accumulated edges):
    * rows × ~32 bytes of edge row, same clamp as [[adaptivePartitions]]. */
  def partitionsForRows(spark: SparkSession, rows: Long): Int = {
    val cap = spark.sessionState.conf.numShufflePartitions
    val est = rows * 32L / partitionTargetBytes + 1
    if (est >= cap) cap else math.max(1, est.toInt)
  }

  /** Build from any DataFrame with (src, dst[, weight]) columns. */
  def apply(edges: DataFrame, numPartitions: Int = 0, hotDegree: Long = 0L): LinkGraph = {
    val n = if (numPartitions > 0) numPartitions
            else adaptivePartitions(edges)
    val withW =
      if (edges.columns.contains("weight"))
        edges.select(col("src").cast("long"), col("dst").cast("long"), col("weight").cast("double"))
      else
        edges.select(col("src").cast("long"), col("dst").cast("long"), lit(1.0).as("weight"))
    new LinkGraph(withW, n, hotDegree)
  }

  /** Build from an in-memory edge list (tests / the bundled reference graphs). */
  def fromSeq(spark: SparkSession, es: Seq[Edge], numPartitions: Int = 4): LinkGraph = {
    import spark.implicits._
    apply(es.toDF(), numPartitions)
  }
}
