package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{CheckpointConfig, GatherScatter, HadoopSnapshotStore, SnapshotStore, Superstep}
import SparkTestBase.withTempDir

/**
 * The durable-IO seam ([[SnapshotStore]]): the Hadoop/parquet rendering's
 * own contract, and that a CUSTOM store really is a drop-in — every durable
 * byte of a checkpointed run must flow through the trait, none through a
 * hard-coded filesystem call.
 */
class SnapshotStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private def sc = spark.sparkContext

  test("HadoopSnapshotStore: text round-trip, overwrite, exists, delete") {
    withTempDir("graft-snapstore") { dir =>
      val p = s"$dir/nested/latest.json"
      assert(HadoopSnapshotStore.readText(sc, p).isEmpty)
      assert(!HadoopSnapshotStore.exists(sc, p))
      HadoopSnapshotStore.writeText(sc, p, """{"iteration":3}""")
      assert(HadoopSnapshotStore.readText(sc, p).contains("""{"iteration":3}"""))
      HadoopSnapshotStore.writeText(sc, p, """{"iteration":7}""") // overwrite
      assert(HadoopSnapshotStore.readText(sc, p).contains("""{"iteration":7}"""))
      HadoopSnapshotStore.deleteIfExists(sc, p)
      assert(!HadoopSnapshotStore.exists(sc, p))
      HadoopSnapshotStore.deleteIfExists(sc, p) // idempotent on absent paths
    }
  }

  test("HadoopSnapshotStore: partition-aligned block round-trip") {
    withTempDir("graft-snapstore") { dir =>
      val blocks = sc.parallelize(0 until 4, 4)
        .map(p => (p, Array.tabulate(3)(i => p * 10L + i)))
      HadoopSnapshotStore.writeBlocks(blocks, s"$dir/blocks")
      // second write to the same path must replace, not fail (crash recovery)
      HadoopSnapshotStore.writeBlocks(blocks, s"$dir/blocks")
      val back = HadoopSnapshotStore.readBlocks[Array[Long]](sc, s"$dir/blocks")
        .collect().sortBy(_._1)
      assert(back.map(_._1).toSeq == Seq(0, 1, 2, 3))
      assert(back.map(_._2.toSeq).toSeq ==
        Seq(Seq(0L, 1L, 2L), Seq(10L, 11L, 12L), Seq(20L, 21L, 22L), Seq(30L, 31L, 32L)))
    }
  }

  test("HadoopSnapshotStore: one part file per partition, no committer leftovers") {
    withTempDir("graft-snapstore") { dir =>
      val blocks = sc.parallelize(0 until 5, 5).map(p => (p, Array.fill(p)(p.toLong)))
      HadoopSnapshotStore.writeBlocks(blocks, s"$dir/blocks")
      val names = new java.io.File(s"$dir/blocks").list().toSet
      assert(names.filterNot(_.startsWith(".")) ===
        (0 until 5).map(p => f"part-$p%05d").toSet, s"files: $names")
    }
  }

  test("HadoopSnapshotStore: readBlocks ignores a failed attempt's hidden temp file") {
    withTempDir("graft-snapstore") { dir =>
      val blocks = sc.parallelize(0 until 3, 3).map(p => (p, Array(p.toLong)))
      HadoopSnapshotStore.writeBlocks(blocks, s"$dir/blocks")
      // an attempt that died after writing part of its temp file
      Files.write(java.nio.file.Paths.get(dir, "blocks", ".part-00001-0-99.tmp"),
        "not a sequence file".getBytes)
      val back = HadoopSnapshotStore.readBlocks[Array[Long]](sc, s"$dir/blocks")
        .collect().sortBy(_._1)
      assert(back.map { case (p, a) => (p, a.toSeq) }.toSeq ===
        Seq((0, Seq(0L)), (1, Seq(1L)), (2, Seq(2L))))
    }
  }

  test("HadoopSnapshotStore: writeText falls back when the scheme has no FileContext binding") {
    // a FileSystem with no AbstractFileSystem: getFileContext throws
    // UnsupportedFileSystemException, as on s3a-style deployments
    val conf = sc.hadoopConfiguration
    conf.set("fs.noafs.impl", classOf[SnapshotStoreSpec.NoFileContextFs].getName)
    conf.setBoolean("fs.noafs.impl.disable.cache", true)
    withTempDir("graft-snapstore") { dir =>
      val p = s"noafs://$dir/latest.json"
      HadoopSnapshotStore.writeText(sc, p, "one")
      HadoopSnapshotStore.writeText(sc, p, "two") // overwrite through the fallback
      assert(HadoopSnapshotStore.readText(sc, p).contains("two"))
      assert(new String(Files.readAllBytes(java.nio.file.Paths.get(dir, "latest.json"))) === "two")
      assert(new java.io.File(dir).list().toSeq === Seq("latest.json"))
    }
  }

  /** Counting decorator: delegates to the Hadoop store under `physical`,
    * tallies calls. Every path it is handed must start with `logical`, which
    * it maps onto `physical` — so a caller that wrote or read anything
    * behind its back would find nothing at the logical path. */
  private class CountingStore(logical: String = "", physical: String = "")
      extends SnapshotStore {
    var texts = 0; var states = 0; var reads = 0
    val paths = scala.collection.mutable.ArrayBuffer.empty[String]
    private def at(path: String): String = synchronized {
      require(path.startsWith(logical), s"$path is outside $logical")
      paths += path
      physical + path.stripPrefix(logical)
    }
    def writeText(sc: org.apache.spark.SparkContext, path: String, text: String): Unit = {
      texts += 1; HadoopSnapshotStore.writeText(sc, at(path), text)
    }
    def readText(sc: org.apache.spark.SparkContext, path: String): Option[String] = {
      reads += 1; HadoopSnapshotStore.readText(sc, at(path))
    }
    def exists(sc: org.apache.spark.SparkContext, path: String): Boolean =
      HadoopSnapshotStore.exists(sc, at(path))
    def deleteIfExists(sc: org.apache.spark.SparkContext, path: String): Unit =
      HadoopSnapshotStore.deleteIfExists(sc, at(path))
    def writeState(state: org.apache.spark.sql.DataFrame, path: String): Unit = {
      states += 1; HadoopSnapshotStore.writeState(state, at(path))
    }
    def readState(spark: org.apache.spark.sql.SparkSession, path: String) =
      HadoopSnapshotStore.readState(spark, at(path))
    def writeBlocks[T: scala.reflect.ClassTag](
        blocks: org.apache.spark.rdd.RDD[(Int, T)], path: String): Unit =
      HadoopSnapshotStore.writeBlocks(blocks, at(path))
    def readBlocks[T: scala.reflect.ClassTag](
        sc: org.apache.spark.SparkContext, path: String) =
      HadoopSnapshotStore.readBlocks[T](sc, at(path))
  }

  test("CSR snapshot save/load touch no path but the store's") {
    // a planted hub, so the manifest carries hot-vertex ids
    val graph = graft.core.LinkGraph.fromSeq(spark,
      (2L to 60L).map(d => graft.core.Edge(1L, d, 1.0)) ++
        (2L to 59L).map(v => graft.core.Edge(v, v + 1, 1.0)), 4)
    val built = GatherScatter.build(graph, 4, hotDegree = 10)
    assert(built.hotIds.nonEmpty, "the manifest must carry hub ids")
    val want = GatherScatter.toDF(spark, GatherScatter.pageRank(built, 0.3, 4))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    withTempDir("graft-snapstore") { dir =>
      val logical = s"$dir/logical"
      val store = new CountingStore(logical, s"$dir/physical")
      GatherScatter.save(built, s"$logical/g", store)
      built.unpersist()
      assert(!new java.io.File(logical).exists(), "save wrote around the store")
      assert(new java.io.File(s"$dir/physical/g").list().filterNot(_.startsWith(".")).toSet ===
        Set("csr", "meta", "manifest.json"))
      store.paths.clear()
      val loaded = GatherScatter.load(spark, s"$logical/g", store)
      assert(store.paths.toSet === Set(s"$logical/g/manifest.json", s"$logical/g/csr", s"$logical/g/meta"))
      assert(!new java.io.File(logical).exists(), "load wrote around the store")
      assert(loaded.hotIds.toSeq === built.hotIds.toSeq)
      assert((loaded.numPartitions, loaded.numEdges, loaded.numVertices, loaded.weighted) ===
        (built.numPartitions, built.numEdges, built.numVertices, built.weighted))
      val got = GatherScatter.toDF(spark, GatherScatter.pageRank(loaded, 0.3, 4))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got === want)
      loaded.unpersist()
      graph.unpersistAll()
    }
  }

  test("checkpointed runs and their resumes on both engines touch no path but the store's") {
    val graph = graft.core.LinkGraph.fromSeq(spark,
      SparkTestBase.testGraphEdges.map { case (s, d) => graft.core.Edge(s, d, 1.0) }, 2)
    val built = GatherScatter.build(graph, 2)
    withTempDir("graft-snapstore") { dir =>
      val logical = s"$dir/logical"
      val store = new CountingStore(logical, s"$dir/physical")
      def cp(run: String) = Some(CheckpointConfig(s"$logical/runs", run, every = 2, store = store))
      // each run stops at superstep 3, then the same config resumes it
      graft.algos.PageRank.run(graph, maxIterations = 3, cp = cp("column")).state.unpersist()
      val column = graft.algos.PageRank.run(graph, cp = cp("column"))
      column.state.unpersist()
      assert(column.converged && column.iterations > 3, s"column: ${column.iterations}")
      GatherScatter.pageRankConverged(built, maxIterations = 3, cp = cp("csr"))._1.unpersist(false)
      val (csrR, csrIters) = GatherScatter.pageRankConverged(built, cp = cp("csr"))
      csrR.unpersist(false)
      assert(csrIters > 3, s"csr: $csrIters")
      assert(!new java.io.File(logical).exists(), "a run wrote around the store")
      // the artifact names of a run directory, with every iter=N/ holding
      // only its state
      def artifacts(run: String): Set[String] = {
        def names(d: java.io.File) = d.list().filterNot(_.startsWith(".")).toSet
        val root = new java.io.File(s"$dir/physical/runs/$run")
        names(root).map { n =>
          if (!n.startsWith("iter=")) n
          else {
            assert(names(new java.io.File(root, n)) === Set("state"), s"$run/$n")
            "iter=N"
          }
        }
      }
      assert(artifacts("column") === Set("latest.json", "metrics.jsonl", "partitions.json", "iter=N"))
      assert(artifacts("csr") === artifacts("column"))
    }
    built.unpersist()
    graph.unpersistAll()
  }

  test("a custom store is a drop-in: checkpointed run + resume flow through it") {
    import graft.core.LinkGraph
    val edges = spark.createDataFrame(
        SparkTestBase.testGraphEdges.map { case (s, d) => (s, d, 1.0) })
      .toDF("src", "dst", "weight")
    val g = LinkGraph(edges, 2)
    withTempDir("graft-snapstore") { dir =>
      val store = new CountingStore
      val cp = CheckpointConfig(dir, "runA", every = 2, store = store)
      val res = graft.algos.PageRank.run(g, tol = -1.0, maxIterations = 4, cp = Some(cp))
      res.state.count()
      assert(store.states >= 2, s"snapshots must go through the store (${store.states})")
      assert(store.texts >= 3, "metrics/lineage/pointer must go through the store")
      // the store-written pointer is the one resume reads
      val latest = HadoopSnapshotStore.readText(sc, s"$dir/runA/latest.json")
      assert(latest.exists(_.contains(""""iteration":4""")), s"latest=$latest")
      g.unpersistAll()
      res.state.unpersist()
    }
  }
}

object SnapshotStoreSpec {
  /** The local filesystem under a scheme that has a `FileSystem` binding
    * (`fs.noafs.impl`) but no `AbstractFileSystem` one. */
  final class NoFileContextFs extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("noafs:///")
    override def getScheme: String = "noafs"
  }
}
