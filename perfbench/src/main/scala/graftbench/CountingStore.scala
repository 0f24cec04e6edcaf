package graftbench

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.LongAccumulator

import graft.engine.{HadoopSnapshotStore, SnapshotStore}

/** A [[SnapshotStore]] that delegates to `inner` and counts what passes
  * through it: write time, bytes and commits on the driver; reads, and read
  * time on the driver plus the task time spent reading snapshot blocks
  * (block reads are lazy, so they are timed where they are consumed). */
final class CountingStore(readTaskNs: LongAccumulator,
                          inner: SnapshotStore = HadoopSnapshotStore) extends SnapshotStore {
  @volatile private var writeNs = 0L
  @volatile private var writeBytes = 0L
  @volatile private var writes = 0L
  @volatile private var reads = 0L
  @volatile private var readNs = 0L

  private def timed[T](add: Long => Unit)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add(System.nanoTime() - t0)
  }
  private def w[T](body: => T): T = timed(d => writeNs += d)(body)
  private def r[T](body: => T): T = timed(d => readNs += d)(body)

  private def bytesAt(sc: SparkContext, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(sc.hadoopConfiguration).getContentSummary(p).getLength
  }

  override def writeText(sc: SparkContext, path: String, text: String): Unit =
    w(inner.writeText(sc, path, text))
  override def readText(sc: SparkContext, path: String): Option[String] =
    r(inner.readText(sc, path))
  override def exists(sc: SparkContext, path: String): Boolean = inner.exists(sc, path)
  override def deleteIfExists(sc: SparkContext, path: String): Unit = inner.deleteIfExists(sc, path)

  override def writeState(state: DataFrame, path: String): Unit = {
    w(inner.writeState(state, path))
    writes += 1
    writeBytes += bytesAt(state.sparkSession.sparkContext, path)
  }
  override def readState(spark: SparkSession, path: String): DataFrame =
    r(inner.readState(spark, path))

  override def writeBlocks[T: ClassTag](blocks: RDD[(Int, T)], path: String): Unit = {
    w(inner.writeBlocks(blocks, path))
    writes += 1
    writeBytes += bytesAt(blocks.sparkContext, path)
  }

  override def readBlocks[T: ClassTag](sc: SparkContext, path: String): RDD[(Int, T)] = {
    val acc = readTaskNs
    reads += 1
    r(inner.readBlocks[T](sc, path)).mapPartitions { it =>
      new Iterator[(Int, T)] {
        def hasNext: Boolean = { val t0 = System.nanoTime(); try it.hasNext finally acc.add(System.nanoTime() - t0) }
        def next(): (Int, T) = { val t0 = System.nanoTime(); try it.next() finally acc.add(System.nanoTime() - t0) }
      }
    }
  }

  /** Counters so far, keyed by their per-layer metric names. */
  def snapshot: Map[String, Double] = Map(
    "engine.snapshot.write_s" -> writeNs / 1e9,
    "engine.snapshot.write_bytes" -> writeBytes.toDouble,
    "engine.snapshot.writes" -> writes.toDouble,
    "engine.snapshot.reads" -> reads.toDouble,
    "engine.snapshot.read_s" -> (readNs + readTaskNs.value) / 1e9)

  /** Per-key growth since an earlier [[snapshot]]. */
  def since(before: Map[String, Double]): Map[String, Double] =
    snapshot.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
