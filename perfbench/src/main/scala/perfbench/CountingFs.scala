package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting its operations: opens and status
  * probes as reads, creates/renames/deletes/mkdirs as writes, and
  * listings. Hadoop's own `file:` statistics count bytes but no
  * operations. Registered for traced runs only (`spark.hadoop.fs.file.impl`). */
class CountingFs extends LocalFileSystem {
  import CountingFs._
  private def read(): Unit = reads.incrementAndGet()
  private def write(): Unit = writes.incrementAndGet()
  private def list(): Unit = lists.incrementAndGet()

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { read(); super.open(f, bufferSize) }
  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { list(); super.listStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    write(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { write(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { write(); super.mkdirs(f, permission) }
}

object CountingFs {
  val reads = new java.util.concurrent.atomic.AtomicLong
  val writes = new java.util.concurrent.atomic.AtomicLong
  val lists = new java.util.concurrent.atomic.AtomicLong
}
