package org.apache.hadoop.fs.local

import java.net.URI
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileStatus, FSDataInputStream, FSDataOutputStream, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.Options.ChecksumOpt
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import perfbench.CountingLocalFileSystem.{lists, reads, writes}

/** The `FileContext` side of the local file system (streaming checkpoints and
  * state stores write through it), counting into the same counters as
  * `perfbench.CountingLocalFileSystem`. It lives in this package because
  * `LocalFs` can only be constructed from here. Installed as
  * `fs.AbstractFileSystem.file.impl` in traced runs only. */
class CountingLocalFs(uri: URI, conf: Configuration) extends LocalFs(uri, conf) {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    super.listStatus(f)
  }

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    lists.incrementAndGet()
    super.listStatusIterator(f)
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet()
    super.listLocatedStatus(f)
  }

  override def createInternal(f: Path, flag: EnumSet[CreateFlag], permission: FsPermission,
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable,
      checksumOpt: ChecksumOpt, createParent: Boolean): FSDataOutputStream = {
    writes.incrementAndGet()
    super.createInternal(f, flag, permission, bufferSize, replication, blockSize, progress,
      checksumOpt, createParent)
  }

  override def renameInternal(src: Path, dst: Path): Unit = {
    writes.incrementAndGet()
    super.renameInternal(src, dst)
  }

  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    writes.incrementAndGet()
    super.renameInternal(src, dst, overwrite)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet()
    super.delete(f, recursive)
  }

  override def mkdir(dir: Path, permission: FsPermission, createParent: Boolean): Unit = {
    writes.incrementAndGet()
    super.mkdir(dir, permission, createParent)
  }
}
