package latbench

import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with metadata calls, file creations and
  * renames counted. The local FS keeps no such counts itself. Installed
  * through `spark.hadoop.fs.file.impl` in traced runs only; NIO calls
  * (as in `FsUtil`) and Spark's FileContext-based checkpoint writes do
  * not pass through it. */
class CountingFs extends LocalFileSystem {
  import CountingFs._
  override def getFileStatus(p: Path): FileStatus = {
    meta.increment(); super.getFileStatus(p)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    meta.increment(); super.listStatus(p)
  }
  override def mkdirs(p: Path, perm: FsPermission): Boolean = {
    meta.increment(); super.mkdirs(p, perm)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    meta.increment(); super.delete(p, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    meta.increment(); renames.increment(); super.rename(src, dst)
  }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    created.increment()
    super.create(p, perm, overwrite, bufferSize, replication, blockSize,
      progress)
  }
}

object CountingFs {
  val meta = new LongAdder
  val created = new LongAdder
  val renames = new LongAdder
}
