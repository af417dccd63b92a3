package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}

/** Filesystem helpers: the atomic record write behind the store
  * protocol (`graft.store.Store`, which commits every write through
  * it), and the crash-safe directory swap behind the writers that
  * replace a plain parquet dir wholesale (`MessageStream.sendTo`,
  * `Layout.compact`).
  * Reference analog for the durability discipline: the
  * changelog-backed store that must never be observable half-written
  * (samza-kv/src/main/scala/org/apache/samza/storage/kv/LoggedStore.scala:1). */
object FsUtil {

  /** Crash-safe replace of `target` with freshly staged content.
    *
    * `write` receives a hidden staging dir next to `target` and must
    * fully materialize the new content under it. Failure modes are
    * all recoverable:
    *  - staging write fails → staging dir is deleted, `target`
    *    untouched;
    *  - swap fails after the old target was moved aside → the backup
    *    is renamed back, so a reader never finds the dir missing;
    *  - only after the staging dir is renamed in is the backup
    *    deleted.
    * The one non-atomic window (rename-out then rename-in) is
    * restored on failure rather than left empty — the previous
    * delete-then-rename shape left NO index at `target` if the JVM
    * died between the two calls, and leaked the staging dir forever
    * if its write failed.
    *
    * Concurrent writers: staging dirs are uuid-scoped so builds never
    * collide, and the SWAP section (rename-out → rename-in → backup
    * delete) runs under a lock file (`.{name}.swap-lock`,
    * create-no-overwrite) plus a same-JVM monitor, so writers
    * serialize there and the outcome is a clean LAST-WRITER-WINS
    * instead of an interleaving that can nest one writer's staging
    * dir inside the other's freshly-renamed target (local-fs rename
    * onto an existing dir moves INTO it). CROSS-PROCESS serialization
    * is guaranteed only on filesystems whose create-no-overwrite is
    * atomic (HDFS); the local filesystem implements it as
    * check-then-create, so two writers in SEPARATE JVMs on local disk
    * can in principle both "acquire" the lock — same-JVM threads (the
    * Verify/Bench topology this library actually runs) are fully
    * serialized by the monitor, but local-fs multi-process writers
    * remain racy and should coordinate externally. The
    * section is milliseconds long; a contender waits up to
    * `lockWaitMs` then fails loudly naming the lock file — a lock
    * left by a CRASHED writer (died inside the section) must be
    * removed manually after checking target/backup state, which the
    * lock's pid@host content is there to diagnose. */
  def swapInto(fs: FileSystem, target: Path,
      lockWaitMs: Long = 10000L)(write: Path => Unit): Unit = {
    val parent = Option(target.getParent).getOrElse(new Path("."))
    val uuid = java.util.UUID.randomUUID
    val staging = new Path(parent, s".${target.getName}-staging-$uuid")
    try write(staging)
    catch { case e: Throwable =>
      try fs.delete(staging, true) catch { case _: Throwable => () }
      throw e
    }
    fs.mkdirs(parent)
    try withSwapLock(fs, parent, target.getName, lockWaitMs) {
      val backup = new Path(parent, s".${target.getName}-backup-$uuid")
      val hadOld = fs.exists(target)
      if (hadOld && !fs.rename(target, backup))
        throw new java.io.IOException(
          s"swapInto: rename $target -> $backup failed")
      try {
        if (!fs.rename(staging, target))
          throw new java.io.IOException(
            s"swapInto: rename $staging -> $target failed")
      } catch { case e: Throwable =>
        if (hadOld) fs.rename(backup, target) // restore the old index
        throw e
      }
      if (hadOld) fs.delete(backup, true)
    } catch { case e: Throwable =>
      // lock timeout / swap failure: reap the fully-written staging
      // dir (a no-op when the swap got far enough to rename it in) so
      // a contended writer doesn't leak a corpus-sized tree
      try fs.delete(staging, true) catch { case _: Throwable => () }
      throw e
    }
  }

  // same-JVM writers serialize on a monitor per lock path: HDFS makes
  // create-no-overwrite atomic but LOCAL fs implements it as
  // check-then-create, so the file lock alone cannot arbitrate two
  // threads of one JVM on local disk (the Verify/Bench topology)
  private val jvmSwapLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Serialize [[swapInto]]'s swap section: same-JVM contenders on a
    * per-path monitor, cross-process contenders via atomic
    * create-no-overwrite of a lock file. Released in finally; see
    * swapInto's doc for the crashed-writer recovery story. */
  private def withSwapLock[T](fs: FileSystem, parent: Path,
      name: String, waitMs: Long)(body: => T): T = {
    val lock = new Path(parent, s".$name.swap-lock")
    jvmSwapLocks.computeIfAbsent(lock.toString, _ => new Object)
      .synchronized { withSwapFileLock(fs, lock, waitMs)(body) }
  }

  // private[graft] for FsUtilSpec's persistent-failure case only —
  // production entry stays withSwapLock (monitor + file lock)
  private[graft] def withSwapFileLock[T](fs: FileSystem, lock: Path,
      waitMs: Long)(body: => T): T = {
    val deadline = System.nanoTime() + waitMs * 1000000L
    var acquired = false
    while (!acquired) {
      // ownership = the atomic create succeeding. The pid@host content
      // is a best-effort diagnostic only: a failure WRITING it must
      // not be mistaken for contention (that would orphan our own
      // half-written lock and deadlock every later writer), so it is
      // swallowed after the create decides ownership.
      // only an already-exists failure is CONTENTION; any other create
      // failure (permission denied, read-only fs, missing parent) is
      // persistent — spinning on it for the full lockWaitMs and then
      // blaming "another writer" sent the operator chasing a phantom
      val out =
        try fs.create(lock, false) // atomic on HDFS: fails if it exists
        catch {
          // HDFS signals a concurrent create of a file still under
          // construction with AlreadyBeingCreatedException (an
          // IOException, not FileAlreadyExists), and transient NN
          // conditions with ipc.RetriableException — both are
          // contention/wait, not persistent failure. A REAL namenode
          // delivers them wrapped in ipc.RemoteException (whose
          // unwrap list does not cover either class), so the wrapper
          // is matched by CLASS NAME too — the direct-typed arms
          // alone would misroute the wrapped form to the persistent
          // arm, the exact misdiagnosis this catch exists to avoid.
          case e: org.apache.hadoop.ipc.RemoteException
              if e.getClassName != null &&
                (e.getClassName.endsWith("AlreadyBeingCreatedException") ||
                 e.getClassName.endsWith("RetriableException") ||
                 e.getClassName.endsWith("FileAlreadyExistsException")) =>
            if (System.nanoTime() >= deadline)
              throw new java.io.IOException(
                s"swapInto: could not acquire $lock within ${waitMs}ms — " +
                  "another writer is swapping this target (retry), or a " +
                  "crashed writer left the lock behind (inspect the " +
                  "target and its .-backup-* siblings, then delete the " +
                  "lock file)", e)
            Thread.sleep(20); null
          case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                    _: java.nio.file.FileAlreadyExistsException |
                    _: org.apache.hadoop.hdfs.protocol.AlreadyBeingCreatedException |
                    _: org.apache.hadoop.ipc.RetriableException) =>
            if (System.nanoTime() >= deadline)
              throw new java.io.IOException(
                s"swapInto: could not acquire $lock within ${waitMs}ms — " +
                  "another writer is swapping this target (retry), or a " +
                  "crashed writer left the lock behind (inspect the " +
                  "target and its .-backup-* siblings, then delete the " +
                  "lock file)", e)
            Thread.sleep(20); null
          case e: java.io.IOException =>
            throw new java.io.IOException(
              s"swapInto: creating lock file $lock failed for a reason " +
                "other than contention (permissions? read-only fs? " +
                "missing parent?)", e)
        }
      if (out != null) {
        acquired = true
        try out.write(
          (ProcessHandle.current().pid().toString + "@" +
            java.net.InetAddress.getLocalHost.getHostName)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        catch { case _: Throwable => () }
        finally { try out.close() catch { case _: Throwable => () } }
      }
    }
    try body finally fs.delete(lock, false)
  }

  /** Write a small text sidecar (the store record) ATOMICALLY
    * where the filesystem allows: the content lands in a hidden temp
    * file first, then renames over the target with overwrite
    * semantics (POSIX rename(2) / HDFS overwrite-rename — atomic on
    * both). A reader concurrent with the write sees the OLD content
    * or the NEW content, never a truncated prefix — the plain
    * create-truncate-write shape left a window where a crash (or a
    * concurrent [[readSidecar]]) produced a torn record that
    * poisoned every later read, so a replay could throw forever
    * instead of converging. A
    * crash before the rename leaves the target untouched plus one
    * FIXED-NAME hidden temp (`.{name}.tmp`), truncated and reused by
    * the next attempt — a crash-looping writer leaves one orphan,
    * not one per attempt; sidecar writers are single-writer-per-file
    * by the store contracts, which is what makes the fixed name safe.
    *
    * LOCAL filesystems do NOT take the FileContext route (round 19):
    * for file:// the context delegates to
    * `AbstractFileSystem.renameInternal`'s default overwrite path —
    * DELETE dest, then rename — which leaves a window where the
    * target is ABSENT: a concurrent reader catching it would find no
    * store at all (the FAILED_READ IngestSpec's concurrent serve test
    * caught under suite load). Local targets swap through NIO
    * `Files.move(ATOMIC_MOVE | REPLACE_EXISTING)` instead — POSIX
    * rename(2), atomic replace, no absence window.
    *
    * Filesystems with no AbstractFileSystem binding (object stores
    * like s3a, which implement only the FileSystem API) cannot take
    * the FileContext overwrite-rename; they FALL BACK to the plain
    * create-overwrite write — rename is not atomic on those stores
    * anyway, so the fallback gives up nothing the store could have
    * provided. */
  def writeSidecar(fs: FileSystem, file: Path, content: String): Unit = {
    val parent = Option(file.getParent).getOrElse(new Path("."))
    fs.mkdirs(parent)
    def plainWrite(target: Path): Unit = {
      val out = fs.create(target, true)
      try out.write(
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      // qualified path → raw local path for NIO (strip the file: URI)
      def local(p: Path): java.nio.file.Path =
        java.nio.file.Paths.get(p.toUri.getPath)
      val tmp = new Path(parent, s".${file.getName}.tmp")
      plainWrite(tmp)
      try java.nio.file.Files.move(local(tmp), local(file),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch { case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: Throwable => () }
        throw e
      }
      ()
    } else {
      val ctx =
        try Some(org.apache.hadoop.fs.FileContext.getFileContext(
          file.toUri, fs.getConf))
        catch {
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            None
        }
      ctx match {
        case None => plainWrite(file) // non-atomic, documented above
        case Some(c) =>
          val tmp = new Path(parent, s".${file.getName}.tmp")
          plainWrite(tmp)
          try c.rename(tmp, file,
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          catch { case e: Throwable =>
            try fs.delete(tmp, false) catch { case _: Throwable => () }
            throw e
          }
      }
    }
  }

  /** Read a sidecar written by [[writeSidecar]]; None if absent. */
  def readSidecar(fs: FileSystem, file: Path): Option[String] = {
    // open-or-absent in one call: a store record is probed once per
    // serve batch, and an exists() first would double that
    val in =
      try fs.open(file)
      catch { case _: java.io.FileNotFoundException => return None }
    try Some(new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8))
    finally in.close()
  }

  private val exitDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  @volatile private var hookInstalled = false

  /** Register `dir` for recursive deletion at JVM exit. Idempotent
    * per path; one shutdown hook total. Without this, every
    * pid-scoped scratch dir (e.g. the per-JVM IVF index under
    * java.io.tmpdir) outlives its Verify/Bench JVM and /tmp
    * accumulates a corpus-sized parquet tree per run. */
  def deleteOnExit(dir: String): String = {
    if (exitDirs.add(dir) && !hookInstalled) synchronized {
      if (!hookInstalled) {
        hookInstalled = true
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          exitDirs.forEach { d =>
            try deleteRecursively(new java.io.File(d))
            catch { case _: Throwable => () }
          }, "graft-tmp-cleanup"))
      }
    }
    dir
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(deleteRecursively)
    }
    f.delete()
  }
}
