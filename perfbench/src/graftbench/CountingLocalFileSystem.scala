package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem with counters, installed for the traced run through
  * `spark.hadoop.fs.file.impl`: every metadata call (list, status, rename,
  * delete, mkdirs), parquet opens, and the bytes read from the source CSVs.
  * Counts are process-wide (executor threads included): the benchmark runs
  * one call at a time, so a before/after difference around a call is that
  * call's. While a whole `Pipeline.run` night runs, each metadata call is
  * also attributed to a layer by the stack of the thread running it (the
  * Pipeline thread's stack for work on other threads, which it waits on).
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def listStatus(f: Path): Array[FileStatus] = {
    metaOp()
    if (sourceRoot != null && f.getParent != null &&
        f.getParent.toUri.getPath == sourceRoot) sourceFolderLists.incrementAndGet()
    super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = { metaOp(); super.getFileStatus(f) }
  override def rename(src: Path, dst: Path): Boolean = { metaOp(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    metaOp(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    metaOp(); super.mkdirs(f, permission)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val name = f.getName
    if (name.endsWith(".parquet")) parquetOpens.incrementAndGet()
    val in = super.open(f, bufferSize)
    if (name.endsWith(".csv") && sourceRoot != null &&
        f.toUri.getPath.startsWith(sourceRoot + "/")) {
      new FSDataInputStream(new CountingInputStream(in, sourceCsvBytes))
    } else in
  }
}

object CountingLocalFileSystem {
  val meta = new AtomicLong
  val sourceFolderLists = new AtomicLong
  val parquetOpens = new AtomicLong
  val sourceCsvBytes = new AtomicLong
  /** Listings of a direct child of this path count as source-folder lists;
    * CSV files under it are source files.
    */
  @volatile var sourceRoot: String = _
  /** The thread running a whole `Pipeline.run`, while it runs. */
  @volatile var pipelineThread: Thread = _
  private val metaByLayer = new ConcurrentHashMap[String, AtomicLong]()
  private val tracker = new LayerTracker

  private def metaOp(): Unit = {
    meta.incrementAndGet()
    val t = pipelineThread
    if (t != null) {
      Layers.site(Layers.frames(t.getStackTrace)).foreach { s =>
        metaByLayer.computeIfAbsent(tracker.layer(s), _ => new AtomicLong).incrementAndGet()
      }
    }
  }

  /** Metadata calls per layer since the last call, and resets them. */
  def takeMetaByLayer(): Map[String, Long] = {
    val out = metaByLayer.asScala.map { case (k, v) => k -> v.get }.toMap
    metaByLayer.clear()
    out
  }
}

/** Counts the bytes read through a stream. */
final class CountingInputStream(in: FSDataInputStream, n: AtomicLong) extends FSInputStream {
  override def read(): Int = {
    val b = in.read()
    if (b >= 0) n.incrementAndGet()
    b
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val r = in.read(b, off, len)
    if (r > 0) n.addAndGet(r)
    r
  }
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
    val r = in.read(pos, b, off, len)
    if (r > 0) n.addAndGet(r)
    r
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}
