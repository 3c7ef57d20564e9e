package graftbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** Process-wide counts of the store-protocol calls made through Hadoop's
  * `file` scheme, plus the scheme's byte statistics. Filled only when the
  * traced run installs [[CountingLocalFs]] as `fs.file.impl`.
  */
object FsCounters {
  val list, status, rename, delete, mkdirs = new AtomicLong()

  private def bytes(f: FileSystem.Statistics => Long): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(f).sum

  /** Current totals, keyed by the per-layer metric they feed. */
  def snapshot(): Map[String, Double] = Map(
    "store.list_ops" -> list.get.toDouble,
    "store.status_ops" -> status.get.toDouble,
    "store.rename_ops" -> rename.get.toDouble,
    "store.delete_ops" -> delete.get.toDouble,
    "store.mkdirs_ops" -> mkdirs.get.toDouble,
    "store.fs_write_mb" -> bytes(_.getBytesWritten) / 1e6,
    "store.fs_read_mb" -> bytes(_.getBytesRead) / 1e6)
}

/** The local file system with a counter on each protocol call the stores
  * make: listing, status (including `exists`), rename, delete and mkdirs.
  * The checksum layer's own calls into the raw file system are not
  * counted, so each count is one call made by the engine or Spark.
  */
class CountingLocalFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = { FsCounters.list.incrementAndGet(); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    FsCounters.list.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    FsCounters.list.incrementAndGet(); super.listStatusIterator(f)
  }
  override def getFileStatus(f: Path): FileStatus = { FsCounters.status.incrementAndGet(); super.getFileStatus(f) }
  override def rename(src: Path, dst: Path): Boolean = { FsCounters.rename.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsCounters.delete.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = { FsCounters.mkdirs.incrementAndGet(); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FsCounters.mkdirs.incrementAndGet(); super.mkdirs(f, permission)
  }
}
