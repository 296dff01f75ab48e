package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/**
 * The local file system with operation counters, installed for the `file`
 * scheme through `spark.hadoop.fs.file.impl` (run.py passes it as a JVM
 * property, so every session in the process picks it up). Hadoop's own
 * statistics count bytes but not operations on the local file system; the
 * trace reads these counters around each lifecycle call.
 */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { reads.incrementAndGet(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { reads.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { reads.incrementAndGet(); super.getFileStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { writes.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { writes.incrementAndGet(); super.mkdirs(f, permission) }
}

object CountingFs {
  /** Metadata and open calls (open, listStatus, getFileStatus). */
  val reads = new AtomicLong
  /** Namespace-changing calls (create, rename, delete, mkdirs). */
  val writes = new AtomicLong
}
