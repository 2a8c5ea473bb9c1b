package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system, counting the operations issued through it.
  * Hadoop's statistics for the `file` scheme count bytes only, so the
  * traced run binds `fs.file.impl` to this class to attribute opens,
  * metadata reads and namespace writes to the layer that issued them. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    reads.incrementAndGet()
    super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet()
    super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet()
    super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet()
    super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet()
    super.mkdirs(f, permission)
  }
}

object CountingLocalFs {
  val opens = new AtomicLong
  val reads = new AtomicLong
  val writes = new AtomicLong
}
