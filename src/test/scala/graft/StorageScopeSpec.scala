package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame}
import org.apache.spark.sql.execution.{CacheManager, LogicalRDD}
import org.scalatest.funsuite.AnyFunSuite

import graft.algos.{Betweenness, DeltaPageRank, DeltaStepping, Hits, Modularity, Neighborhood, Scc}
import graft.core.{Edge, LinkGraph, StorageScope}
import graft.streaming.ContinuousRank

/** A call frees only what it pinned: the graph's own clustered-view caches
  * outlive every call that reads them, and each storage-freeing site leaves
  * exactly the pre-call storage, the graph's views and its result's own
  * storage behind. */
class StorageScopeSpec extends AnyFunSuite {
  import SparkTestBase._
  lazy val s = spark
  private def sc = s.sparkContext

  /** 199 vertices, two out-edges each (self-loops dropped), cycles included. */
  private val probeEdges: Seq[(Long, Long)] =
    (0L until 199L).flatMap(i => Seq((i, (i * 7 + 3) % 199), (i, (i * 31 + 11) % 199)))
      .filter(e => e._1 != e._2).distinct

  /** A graph whose views have never been materialized. */
  private def freshGraph(es: Seq[(Long, Long)] = probeEdges, w: Long => Double = _ => 1.0): LinkGraph =
    LinkGraph.fromSeq(s, es.map { case (a, b) => Edge(a, b, w(a * 1000 + b)) }, 4)

  private def pinned: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Runs `call` and returns the RDD ids it left persisted. A bystander
    * checkpoint pinned before the call must survive it. (Storage other
    * suites left behind can vanish mid-call when the context cleaner
    * collects it, so the pre-call set is compared through the bystander.) */
  private def added[A](call: => A): (A, Set[Int]) = {
    val bystander = new StorageScope
    val ids = checkpoints(bystander.checkpoint(s.range(0, 10).toDF("id")))
    val before = pinned
    val out = call
    val after = pinned
    assert(ids.subsetOf(after), "the call freed storage it did not pin")
    bystander.free()
    (out, after -- before)
  }

  /** The persisted buffer RDD behind a cached frame, if the frame is cached
    * and all of its blocks are built. */
  private def cacheBuffers(df: DataFrame): Option[RDD[_]] =
    s.sharedState.cacheManager.lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)
      .filter(_.isCachedColumnBuffersLoaded)
      .map(_.cachedColumnBuffers)

  /** The RDD ids of `g`'s clustered views that hold built caches. Reading a
    * view registers a lazy cache entry, so call this after the snapshot. */
  private def views(g: LinkGraph): Set[Int] =
    Seq(g.edgesBySrc, g.edgesByDst, g.vertices).flatMap(cacheBuffers).map(_.id).toSet

  /** The checkpointed RDDs at the leaves of `df`'s logical plan. */
  private def checkpoints(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collectLeaves().collect { case r: LogicalRDD => r.rdd.id }.toSet

  test("the graph's views stay persisted through Hits.run and Neighborhood.sketches") {
    for ((name, call) <- Seq[(String, LinkGraph => DataFrame)](
           "Hits.run" -> (g => Hits.run(g, 5)),
           "Neighborhood.sketches" -> (g => Neighborhood.sketches(g, 4)))) {
      val g = freshGraph()
      call(g).collect()
      for ((view, df) <- Seq("edgesBySrc" -> g.edgesBySrc, "edgesByDst" -> g.edgesByDst,
                             "vertices" -> g.vertices)) {
        val buffers = cacheBuffers(df)
        assert(buffers.exists(b => sc.getPersistentRDDs.contains(b.id)),
          s"$name left the storage of $view unpersisted")
      }
      g.unpersistAll()
    }
  }

  test("a checkpoint records exactly the RDD it adds, eager or lazy") {
    val df = s.range(0, 100).toDF("id")
    for (eager <- Seq(true, false)) {
      val scope = new StorageScope
      val before = pinned
      val out = scope.checkpoint(df, eager)
      assert(pinned -- before === checkpoints(out))
      assert(out.count() === 100L)
      scope.free()
      assert((pinned intersect checkpoints(out)).isEmpty)
    }
  }

  test("Superstep.run: after release, only the graph's views stay") {
    val g = freshGraph()
    val (_, left) = added {
      val res = DeltaPageRank.run(g)
      res.state.collect()
      res.release()
    }
    assert(left === views(g))
    g.unpersistAll()
  }

  test("DeltaStepping leaves the graph's views and its result's checkpoint") {
    val g = freshGraph(w = k => 1.0 + (k % 5))
    val ((out, rounds), left) = added(DeltaStepping.run(g, 0L, 2.0))
    assert(rounds > 1)
    assert(left === views(g) ++ checkpoints(out))
    g.unpersistAll()
  }

  test("Scc.runFast leaves only its result's checkpoint") {
    val g = freshGraph()
    val (out, left) = added(Scc.runFast(g))
    assert(left === checkpoints(out))
    g.unpersistAll()
  }

  test("Betweenness leaves the graph's views and its result's checkpoint") {
    val g = freshGraph()
    val (out, left) = added(Betweenness.run(g, Seq(0L, 5L)))
    assert(left === views(g) ++ checkpoints(out))
    g.unpersistAll()
  }

  test("Hits leaves the graph's views and its last iteration's four blocks") {
    val g = freshGraph()
    // the count is package-private to Spark, its bytecode method public
    def entries = classOf[CacheManager].getMethod("numCachedEntries")
      .invoke(s.sharedState.cacheManager).asInstanceOf[Int]
    val entriesBefore = entries
    val (out, left) = added(Hits.run(g, 5))
    // three views plus the last iteration's two raw-sum caches
    assert(entries === entriesBefore + 5)
    val v = views(g)
    val ckpts = checkpoints(out)
    assert(v.size === 3 && ckpts.size === 2)
    assert((v ++ ckpts).subsetOf(left))
    assert((left -- v -- ckpts).size === 2,
      s"beyond the views and the result's checkpoints: ${left -- v -- ckpts}")
    g.unpersistAll()
  }

  test("RankMaintainer: after close, only the pre-call storage stays") {
    val m = new ContinuousRank.RankMaintainer(numPartitions = 2)
    var held = Set.empty[Int]
    for (b <- probeEdges.grouped(100)) {
      val (ranks, left) = added(m.update(s.createDataFrame(b.map { case (a, c) => Edge(a, c, 1.0) })))
      // this batch's accumulated edges and rank snapshot replace the last
      // batch's pair
      assert(left.size === 2 && checkpoints(ranks).subsetOf(left))
      assert((pinned intersect held).isEmpty)
      held = left
    }
    added(m.close())
    assert((pinned intersect held).isEmpty)
  }

  test("Modularity fails on an edge endpoint with no label") {
    val g = freshGraph(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))
    val partial = s.createDataFrame(Seq((1L, 1L), (2L, 1L), (3L, 1L))).toDF("id", "label")
    val e = intercept[IllegalArgumentException](Modularity.score(g, partial).collect())
    assert(e.getMessage.contains("1 edges"))
  }

  test("Modularity fails on an edge endpoint with two labels") {
    val g = freshGraph(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))
    val dup = s.createDataFrame(Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (4L, 3L)))
      .toDF("id", "label")
    val e = intercept[IllegalArgumentException](Modularity.score(g, dup).collect())
    assert(e.getMessage.contains("1 edges"))
  }

  test("library code never reads the session's persisted-RDD set") {
    // only the programs that own the session (Bench, Verify and the tools)
    // may sweep it
    val root = Paths.get("src/main/scala/graft")
    val offenders = for {
      dir <- Seq("engine", "algos", "core", "streaming", "queries", "pipeline")
      f <- Using.resource(Files.walk(root.resolve(dir)))(_.iterator().asScala.toList)
      if f.toString.endsWith(".scala") &&
        Files.readAllLines(f).asScala.exists(_.contains("getPersistentRDDs"))
    } yield root.relativize(f).toString
    assert(Files.isDirectory(root.resolve("engine")))
    assert(offenders.isEmpty, s"getPersistentRDDs read in $offenders")
  }
}
