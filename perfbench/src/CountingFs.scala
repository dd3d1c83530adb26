package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system, counting the file-system calls made outside
  * executor tasks (the driver's listings, status probes, opens, creates,
  * renames and deletes). Hadoop's own statistics count bytes but no
  * operations for local files. Installed as `fs.file.impl`; every call
  * behaves as in LocalFileSystem. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { read(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { read(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    write(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { write(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { write(); super.mkdirs(f, permission) }
}

object CountingLocalFileSystem {
  val reads, writes = new AtomicLong()
  private def onDriver: Boolean = !Thread.currentThread.getName.startsWith("Executor task launch")
  private def read(): Unit = if (onDriver) reads.incrementAndGet()
  private def write(): Unit = if (onDriver) writes.incrementAndGet()
}
