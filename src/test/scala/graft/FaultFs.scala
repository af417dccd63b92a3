package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The engine's local file system (`graft.core.LocalFs.Fs`) with every
  * call recorded in `calls`, and a kill switch: with `killAt(n)`, call
  * `n` and every later call throw [[FaultFs.Killed]]. That is a dead
  * process, not a failing disk: a catch block's cleanup fails too. The
  * recorded calls are the ones the store protocol makes, and the ones
  * they make on this file system in turn (`create` makes its parent
  * with `mkdirs`). Stream reads and writes between two calls are not
  * calls: a kill lands before a call, never inside a write. */
final class FaultFs extends graft.core.LocalFs.Fs {
  private var kill = Int.MaxValue
  val calls = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Path])]

  def killAt(n: Int): this.type = { kill = n; this }

  private def call(name: String, paths: Path*): Unit = {
    val i = calls.size
    calls += name -> paths
    if (i >= kill) throw new FaultFs.Killed(i)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    call("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    call("open", f); super.open(f, bufferSize)
  }
  override def mkdirs(f: Path): Boolean = {
    call("mkdirs", f); super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    call("mkdirs", f); super.mkdirs(f, permission)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    call("delete", f); super.delete(f, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    call("rename", src, dst); super.rename(src, dst)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    call("listStatus", f); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    call("getFileStatus", f); super.getFileStatus(f)
  }
}

object FaultFs {
  final class Killed(val call: Int)
      extends RuntimeException(s"killed at file system call $call")

  // parsed once: every kill case opens fresh instances
  private lazy val conf = new Configuration()

  /** A fresh, uncached instance on `file:///`. */
  def apply(): FaultFs = {
    val fs = new FaultFs
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }
}
