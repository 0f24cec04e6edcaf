package graft.engine

import java.io.{IOException, ObjectOutputStream}

import scala.reflect.ClassTag

import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.io.{BytesWritable, NullWritable, SequenceFile}
import org.apache.hadoop.io.SequenceFile.CompressionType
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/**
 * Storage seam for every durable artifact the engine commits mid-run: small
 * driver-side text (pointers, metrics, manifests), columnar state tables
 * (the Column engine's checkpoints) and partition-aligned binary state
 * blocks (the CSR engine's snapshots and checkpoints). [[Checkpoints]] and
 * the CSR snapshot `save`/`load` see only this trait, via the `store` field
 * of [[CheckpointConfig]] or their `store` parameter.
 *
 * The north rule names Iceberg as the production substrate. Where no
 * Iceberg jars are on the classpath, [[HadoopSnapshotStore]] renders the
 * same commit discipline over Hadoop `FileSystem` paths (local, hdfs://,
 * s3a://) with parquet/object-file payloads: data files first, then the
 * pointer, the only commit — nothing reads data files before a pointer
 * names them, so a crash mid-write leaves the previous commit resumable. An
 * Iceberg implementation is a drop-in: `writeState`/`readState` become
 * table appends/snapshot reads, `writeBlocks` a table of (partition, blob)
 * rows, and the text artifacts snapshot properties/tags.
 *
 * Threading: both engines commit a checkpoint's text artifacts on a
 * background thread while the next superstep runs ([[Checkpoints]]), so
 * `writeText` may run alongside `writeState`, `readState` or `writeBlocks`
 * on the caller's thread (never two `writeText`s of one run at once).
 */
trait SnapshotStore extends Serializable {

  /** Small driver-side text artifact (manifest, metrics, latest pointer),
    * overwriting any existing content atomically enough that readers see
    * old-or-new, never half-written. */
  def writeText(sc: SparkContext, path: String, text: String): Unit

  /** None when the artifact does not exist. */
  def readText(sc: SparkContext, path: String): Option[String]

  def exists(sc: SparkContext, path: String): Boolean

  def deleteIfExists(sc: SparkContext, path: String): Unit

  /** Columnar state table, full overwrite (one committed version per path). */
  def writeState(state: DataFrame, path: String): Unit

  def readState(spark: SparkSession, path: String): DataFrame

  /** Partition-aligned binary blocks: element i of `blocks` carries its own
    * partition id so a reader can restore alignment via `partitionBy`.
    * `blocks` may be unmaterialized: the CSR engine passes a superstep's
    * own output, so this write is the job that computes (and caches) the
    * new state. An implementation must therefore compute every partition
    * of `blocks` before it returns. */
  def writeBlocks[T: ClassTag](blocks: RDD[(Int, T)], path: String): Unit

  def readBlocks[T: ClassTag](sc: SparkContext, path: String): RDD[(Int, T)]
}

/** The parquet/object-file rendering over Hadoop FileSystem. Blocks are
  * written in the format `SparkContext.objectFile` reads. */
object HadoopSnapshotStore extends SnapshotStore {

  private def fsOf(sc: SparkContext, path: String) = {
    val hp = new Path(path)
    (hp, hp.getFileSystem(sc.hadoopConfiguration))
  }

  override def writeText(sc: SparkContext, path: String, text: String): Unit = {
    // write-to-temp + rename: an in-place truncate would corrupt the commit
    // pointer if the process dies mid-overwrite, breaking the written-LAST
    // resume discipline the trait contract promises (rename is atomic on
    // local and HDFS; object stores substitute their own atomic PUT)
    val (hp, fs) = fsOf(sc, path)
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    fs match {
      case local: LocalFileSystem => writeLocal(local.pathToFile(hp).toPath, bytes)
      case _ => writeHadoop(sc, fs, hp, bytes)
    }
  }

  /** The local filesystem: a plain file write and rename(2), which replaces
    * the target atomically. Hadoop's own create and FileContext rename fork
    * `chmod` and `readlink` processes when the native library is absent,
    * about 30 ms per text write. No checksum file is written; a stale one
    * from an earlier Hadoop write goes first, so a read never checks new
    * bytes against it. */
  private def writeLocal(f: java.nio.file.Path, bytes: Array[Byte]): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    Files.createDirectories(f.getParent)
    val tmp = f.resolveSibling(s".${f.getFileName}.tmp-${System.nanoTime()}")
    Files.write(tmp, bytes)
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE)
  }

  private def writeHadoop(sc: SparkContext, fs: FileSystem, hp: Path, bytes: Array[Byte]): Unit = {
    val tmp = new Path(hp.getParent, s".${hp.getName}.tmp-${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(bytes)
    finally out.close()
    def replace(): Unit = {
      if (fs.exists(hp)) fs.delete(hp, false)
      if (!fs.rename(tmp, hp)) throw new IOException(s"rename $tmp -> $hp failed")
    }
    // FileContext rename with OVERWRITE is atomic on local/HDFS even when
    // the destination exists (plain FileSystem.rename is not); a scheme with
    // a FileSystem but no AbstractFileSystem binding (getFileContext throws
    // UnsupportedFileSystemException) or no overwrite-rename gets
    // delete + rename
    val fc = try Some(FileContext.getFileContext(hp.toUri, sc.hadoopConfiguration))
             catch { case _: IOException => None }
    fc match {
      case Some(c) =>
        try c.rename(tmp, hp, Options.Rename.OVERWRITE)
        catch { case _: UnsupportedOperationException => replace() }
      case None => replace()
    }
  }

  override def readText(sc: SparkContext, path: String): Option[String] = {
    val (hp, fs) = fsOf(sc, path)
    if (!fs.exists(hp)) None
    else {
      val in = fs.open(hp)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  override def exists(sc: SparkContext, path: String): Boolean = {
    val (hp, fs) = fsOf(sc, path)
    fs.exists(hp)
  }

  override def deleteIfExists(sc: SparkContext, path: String): Unit = {
    val (hp, fs) = fsOf(sc, path)
    if (fs.exists(hp)) { fs.delete(hp, true); () }
  }

  override def writeState(state: DataFrame, path: String): Unit =
    state.write.mode("overwrite").parquet(path)

  override def readState(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** One `part-NNNNN` per partition, written by that partition's task: a
    * `SequenceFile[NullWritable, BytesWritable]` of Java-serialized groups of
    * up to 10 elements, uncompressed — what `saveAsObjectFile` writes,
    * without its output committer (`_temporary` tree, task and job commit
    * renames, `_SUCCESS`). Each task writes a hidden attempt-unique temp file
    * and renames it into place; readers skip hidden names, so a failed
    * attempt's leftover is never read. */
  override def writeBlocks[T: ClassTag](blocks: RDD[(Int, T)], path: String): Unit = {
    val sc = blocks.sparkContext
    deleteIfExists(sc, path) // half-written blocks from a crash
    val conf = new SerializableConfiguration(sc.hadoopConfiguration)
    sc.runJob(blocks, (ctx: TaskContext, it: Iterator[(Int, T)]) => {
      val dir = new Path(path)
      val fs = dir.getFileSystem(conf.value)
      val part = new Path(dir, f"part-${ctx.partitionId()}%05d")
      val tmp = new Path(dir,
        s".${part.getName}-${ctx.stageAttemptNumber()}-${ctx.taskAttemptId()}.tmp")
      val w = SequenceFile.createWriter(conf.value, SequenceFile.Writer.file(tmp),
        SequenceFile.Writer.keyClass(classOf[NullWritable]),
        SequenceFile.Writer.valueClass(classOf[BytesWritable]),
        SequenceFile.Writer.compression(CompressionType.NONE))
      try it.grouped(10).foreach { g =>
        val bytes = new java.io.ByteArrayOutputStream()
        val oos = new ObjectOutputStream(bytes)
        oos.writeObject(g.toArray)
        oos.close()
        w.append(NullWritable.get(), new BytesWritable(bytes.toByteArray))
      } finally w.close()
      // a retried or speculative attempt writes the same bytes: if another
      // attempt already renamed its file into place, keep that one
      if (!fs.rename(tmp, part)) {
        if (!fs.exists(part)) throw new IOException(s"rename $tmp -> $part failed")
        fs.delete(tmp, false)
      }
      ()
    })
  }

  override def readBlocks[T: ClassTag](sc: SparkContext, path: String): RDD[(Int, T)] =
    sc.objectFile[(Int, T)](path)
}
