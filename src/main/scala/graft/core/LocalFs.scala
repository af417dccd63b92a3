package graft.core

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's binding for the `file:` scheme: Hadoop's local file
  * system with `chmod` and `readlink` done in the JVM instead of in a
  * child process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` forks a
  * `chmod` for every file and directory it creates with a permission,
  * and a `readlink` for every `getFileLinkStatus`, which
  * `FileContext.rename` calls up to 8 times per file. A keyed-state
  * micro-batch's offset/commit logs and state-store checkpoint paid
  * about 45 such process launches. [[Raw]] makes both calls through
  * NIO and returns what Hadoop returns; everything else is Hadoop's
  * own code. [[Fs]] (`fs.file.impl`) keeps `LocalFileSystem`'s
  * checksummed, buffered reads; plain `RawLocalFileSystem` reads are
  * unbuffered and slowed the scan-bound queries. [[Afs]]
  * (`fs.AbstractFileSystem.file.impl`) is Hadoop's `LocalFs` for the
  * `FileContext` API that Spark's streaming logs and state store use.
  * `GraftSession` binds both. */
object LocalFs {

  /** `RawLocalFileSystem` with `setPermission`, `getFileLinkStatus`
    * and `getLinkTarget` made without a child process. */
  class Raw extends RawLocalFileSystem {

    /** `chmod` through NIO. A sticky bit, which NIO cannot set, and a
      * directory holding a set-user-ID or set-group-ID bit, which
      * `chmod` with a 4-digit mode keeps and NIO would clear, go to
      * Hadoop's `chmod`; so does every path on a default file system
      * without POSIX modes. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      def keepsSpecialBits = {
        val mode = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
        (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0
      }
      if (!Unix || permission.getStickyBit || keepsSpecialBits)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(f, posix(permission.toShort))
    }

    override def getFileLinkStatus(f: Path): FileStatus = {
      val st = linkStatus(f)
      if (st.isSymlink) st.setSymlink(
        FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
      st
    }

    override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

    /** Hadoop's link status (`deprecatedGetFileLinkStatusInternal`):
      * the status of what `f` resolves to, carrying the link's target
      * when `f` names a link. */
    private def linkStatus(f: Path): FileStatus = {
      val target = readLink(f.toString)
      try {
        val st = getFileStatus(f)
        if (target.isEmpty) st
        else new FileStatus(st.getLen, false, st.getReplication,
          st.getBlockSize, st.getModificationTime, st.getAccessTime,
          st.getPermission, st.getOwner, st.getGroup, new Path(target), f)
      } catch {
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
            "", "", new Path(target), f)
      }
    }
  }

  /** `fs.file.impl`: the checksummed `LocalFileSystem` over [[Raw]]. */
  class Fs extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (checksums
    * over `RawLocalFs`) built on [[Raw]]. Hadoop instantiates it
    * through this (URI, Configuration) constructor. */
  class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(uri, conf))

  /** Hadoop's `RawLocalFs`, whose constructors are package-private,
    * over [[Raw]]. */
  class RawAfs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
      uri, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    @deprecated("as AbstractFileSystem.getServerDefaults()", "")
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The "unix" view reads the whole mode and implies POSIX modes. */
  private val Unix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** The 9 permission bits of `mode`; `PosixFilePermission` lists them
    * from 0400 down to 0001. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(b)
    }
    s
  }

  /** What Hadoop's `FileUtil.readLink` returns for `readlink <path>`:
    * the target of the link at `path`, resolved from the working
    * directory, or "" when `path` names no link. So a qualified
    * `file:` path, read as a relative name, never reports a target. */
  private def readLink(path: String): String =
    try {
      val p = new File(path).toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim
      else ""
    } catch {
      case _: IOException | _: java.nio.file.InvalidPathException => ""
    }
}
