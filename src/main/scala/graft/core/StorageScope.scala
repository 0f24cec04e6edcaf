package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/**
 * The storage one block of work pinned, freed together once nothing reads
 * it — GraphMat's scratch-vector reuse (SURVEY.md §4). A scope frees exactly
 * what it recorded, never what other code persisted meanwhile (a concurrent
 * query's blocks, a graph's clustered views). `localCheckpoint` storage is
 * an RDD-level persist that `Dataset.unpersist` cannot see; its RDD is the
 * `LogicalRDD` at the root of the returned frame's logical plan.
 */
final class StorageScope {
  private[this] val rdds = ArrayBuffer.empty[RDD[_]]
  private[this] val frames = ArrayBuffer.empty[DataFrame]

  /** `df.localCheckpoint(eager, level)`, its storage recorded. */
  def checkpoint(df: DataFrame, eager: Boolean = true,
                 level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val out = df.localCheckpoint(eager, level)
    out.queryExecution.logical match {
      case r: LogicalRDD => rdds += r.rdd
      case p => throw new IllegalStateException(s"localCheckpoint returned no LogicalRDD root: ${p.nodeName}")
    }
    out
  }

  /** `df.persist(MEMORY_AND_DISK)`, recorded; built by its first action. */
  def persist(df: DataFrame): DataFrame = {
    frames += df.persist(StorageLevel.MEMORY_AND_DISK)
    frames.last
  }

  /** Releases everything recorded (non-blocking) and empties the scope. */
  def free(): Unit = {
    rdds.foreach(_.unpersist(blocking = false)); rdds.clear()
    frames.foreach(_.unpersist(blocking = false)); frames.clear()
  }
}
