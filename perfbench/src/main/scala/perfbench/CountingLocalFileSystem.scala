package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system, counting the operations Hadoop's own local
  * implementation leaves uncounted: opens as reads, listings as lists, and
  * creates, renames, deletes and mkdirs as writes. Installed as
  * `fs.file.impl` in traced runs only. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    super.listStatus(f)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
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

object CountingLocalFileSystem {
  val reads = new AtomicLong
  val lists = new AtomicLong
  val writes = new AtomicLong
}
