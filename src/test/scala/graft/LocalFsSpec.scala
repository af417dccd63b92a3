package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkConf

import graft.core.{FsUtil, GraftSession, LocalFs}
import graft.store.Store
import graft.streaming.TaskRunner
import graft.streaming.TaskRunner.{Collector, KVStore, StreamTaskLike}

/** The engine's `file:` binding (`graft.core.LocalFs`) against
  * Hadoop's stock `LocalFileSystem` and `LocalFs` on the same temp
  * dirs: the same permission bits and link answers, and none of the
  * stock binding's child processes. */
class LocalFsSpec extends SparkSpec {

  private val Root = URI.create("file:///")

  private def conf(umask: Option[String] = None): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  /** Stock first, then the engine's, as FileSystem and as FileContext. */
  private def fileSystems(c: Configuration): Seq[FileSystem] =
    Seq(new LocalFileSystem, new LocalFs.Fs).map { fs =>
      fs.initialize(Root, c); fs
    }
  private def contexts(c: Configuration): Seq[FileContext] =
    Seq(classOf[org.apache.hadoop.fs.local.LocalFs], classOf[LocalFs.Afs])
      .map { k =>
        val cc = new Configuration(c)
        cc.set("fs.AbstractFileSystem.file.impl", k.getName)
        FileContext.getFileContext(Root, cc)
      }

  private def tmp(): JPath = Files.createTempDirectory("graft-localfs")
  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)
  /** The mode's permission, sticky, set-user-ID and set-group-ID bits. */
  private def mode(p: JPath): String =
    "%04o".format(Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)

  /** What `op` returned, or the class of what it threw. */
  private def outcome[T](op: => T): String =
    try op.toString catch { case e: Exception => e.getClass.getName }

  test("create and mkdirs leave the stock POSIX bits, under the session umask and under 027") {
    val made = Seq("a", "a/b", "a/b/f", "a/b/.f.crc")
    for (umask <- Seq(None, Some("027"))) {
      val c = conf(umask)
      val viaFs = fileSystems(c).map { fs =>
        val root = tmp()
        fs.mkdirs(new Path(root.toString, "a/b"))
        fs.create(new Path(root.toString, "a/b/f")).close()
        made.map(n => n -> mode(root.resolve(n)))
      }
      val viaContext = contexts(c).map { fc =>
        val root = tmp()
        fc.mkdir(new Path(root.toString, "a/b"), FsPermission.getDirDefault,
          true)
        fc.create(new Path(root.toString, "a/b/f"),
          java.util.EnumSet.of(CreateFlag.CREATE)).close()
        made.map(n => n -> mode(root.resolve(n)))
      }
      assert(viaFs(1) == viaFs(0), s"FileSystem, umask $umask")
      assert(viaContext(1) == viaContext(0), s"FileContext, umask $umask")
      if (umask.nonEmpty) assert(viaFs(1).toMap.apply("a/b/f") == "0640")
    }
  }

  test("setPermission sets the stock bits: 0600, 0750, 0644, a sticky bit, a set-group-ID directory") {
    val results = fileSystems(conf()).map { fs =>
      val root = tmp()
      val (f, d, g) = (root.resolve("f"), root.resolve("d"), root.resolve("g"))
      Files.createFile(f)
      Files.createDirectory(d)
      Files.createDirectory(g)
      // NIO cannot set a set-group-ID bit
      assert(new ProcessBuilder("chmod", "2755", g.toString).start()
        .waitFor() == 0)
      def set(p: JPath, perm: String) = {
        fs.setPermission(new Path(p.toString), octal(perm))
        s"$perm ${root.relativize(p)} -> ${mode(p)}"
      }
      Seq("600", "750", "644").flatMap(m => Seq(set(f, m), set(d, m))) ++
        Seq(set(d, "1777"), set(g, "750"))
    }
    assert(results(1) == results(0))
    assert(results(1).takeRight(2) == Seq("1777 d -> 1777", "750 g -> 2750"))
  }

  test("getFileLinkStatus and getLinkTarget answer as the stock file systems do") {
    val root = tmp()
    Files.write(root.resolve("t"), "target".getBytes)
    Files.createSymbolicLink(root.resolve("rel"), root.getFileSystem.getPath("t"))
    Files.createSymbolicLink(root.resolve("abs"), root.resolve("t"))
    Files.createSymbolicLink(root.resolve("dangling"),
      root.getFileSystem.getPath("nowhere"))
    val paths = Seq("rel", "abs", "dangling", "t", "missing").flatMap { n =>
      val p = root.resolve(n).toString
      Seq(new Path(p), new Path(s"file:$p"))
    }
    def show(st: FileStatus): String =
      s"${st.getPath} dir=${st.isDirectory} len=${st.getLen} " +
        s"mtime=${st.getModificationTime} perm=${st.getPermission} " +
        s"${st.getOwner}:${st.getGroup} link=" +
        (if (st.isSymlink) st.getSymlink.toString else "-")
    def answers(linkStatus: Path => FileStatus, linkTarget: Path => Path) =
      paths.map(p =>
        s"$p: ${outcome(show(linkStatus(p)))} / ${outcome(linkTarget(p))}")
    val viaFs = fileSystems(conf()).map(fs =>
      answers(fs.getFileLinkStatus, fs.getLinkTarget))
    val viaContext = contexts(conf()).map(fc =>
      answers(fc.getFileLinkStatus, fc.getLinkTarget))
    assert(viaFs(1) == viaFs(0))
    assert(viaContext(1) == viaContext(0))
    val fs = fileSystems(conf())(1)
    assert(fs.getLinkTarget(new Path(root.resolve("rel").toString)) ==
      new Path("t"))
    assert(fs.getLinkTarget(new Path(root.resolve("dangling").toString)) ==
      new Path("nowhere"))
    // Hadoop reads a qualified path's string as a relative file name
    assert(!fs.getFileLinkStatus(new Path(s"file:${root.resolve("rel")}"))
      .isSymlink)
    for (f <- Seq(fs.getFileLinkStatus _, fs.getLinkTarget _))
      intercept[java.io.FileNotFoundException](
        f(new Path(root.resolve("missing").toString)))
  }

  /** `command <- frames` of each child process that Hadoop's `Shell`
    * started while `body` ran, from an in-process JFR recording. */
  private def shellForks(body: => Unit): Seq[String] = {
    val out = Files.createTempFile("graft-forks", ".jfr")
    val r = new jdk.jfr.Recording()
    r.enable("jdk.ProcessStart").withStackTrace()
    r.start()
    try body finally { r.stop(); r.dump(out); r.close() }
    val events = jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
    Files.delete(out)
    events.toSeq.filter(_.getEventType.getName == "jdk.ProcessStart")
      .flatMap { e =>
        val frames = Option(e.getStackTrace).toSeq
          .flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        if (frames.exists(_.startsWith("org.apache.hadoop.util.Shell")))
          Some(s"${e.getString("command")} <- ${frames.mkString(" < ")}")
        else None
      }
  }

  /** `body` on Hadoop's stock local file systems: uncached, so the
    * session's cached file system is not reused. */
  private def onStockBinding[T](body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val stock = Seq(
      "fs.file.impl" -> classOf[LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true",
      "fs.AbstractFileSystem.file.impl" ->
        classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    val saved = stock.map { case (k, _) => k -> Option(hc.get(k)) }
    stock.foreach { case (k, v) => hc.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => hc.set(k, v)
      case (k, None) => hc.unset(k)
    }
  }

  /** The four commit paths: a checkpointed TaskRunner query over three
    * micro-batches, a parquet write, a store append and a sidecar
    * write, each run under `record`. */
  private def commitPaths(record: (String, () => Unit) => Unit): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = tmp().toString
    class SumTask extends StreamTaskLike[(String, Long), (String, Long)] {
      override def process(msg: (String, Long), store: KVStore,
          collector: Collector[(String, Long)]): Unit = {
        val total = store.get("sum").map(_.toLong).getOrElse(0L) + msg._2
        store.put("sum", total.toString)
        collector.send((msg._1, total))
      }
    }
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    val sink = s"localfs_sums_${System.nanoTime}"
    record("stateful query", () => {
      val q = TaskRunner.run[(String, Long), String, (String, Long)](
        in.toDS(), _._1, new SumTask, orderBy = _._2)
        .writeStream.outputMode("append").format("memory").queryName(sink)
        .option("checkpointLocation", s"$root/ckpt").start()
      try (1 to 3).foreach { i =>
        in.addData(Seq("a", "b", "c").map(_ -> i.toLong))
        q.processAllAvailable()
      } finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    })
    record("parquet write",
      () => s.range(100).write.parquet(s"$root/parquet"))
    Store.write(s, s"$root/store", "test", Map.empty) { _ => () }
    val rec = storeRecord(s"$root/store")
    record("store append", () => Store.append(s, s"$root/store", rec, "t0",
      Seq("table" -> s.range(10).toDF("v"))))
    record("sidecar write", () => {
      val p = new Path(root, "sidecar.json")
      FsUtil.writeSidecar(p.getFileSystem(s.sparkContext.hadoopConfiguration),
        p, "{}")
    })
  }

  test("a checkpointed micro-batch, a parquet write, a store append and a sidecar write start no Hadoop Shell process") {
    // Shell's class initialization probes for setsid once per JVM
    assert(!org.apache.hadoop.util.Shell.WINDOWS)
    commitPaths { (what, body) =>
      val forks = shellForks(body())
      assert(forks.isEmpty, s"$what:\n${forks.mkString("\n")}")
    }
    // the recording sees the stock binding's forks on every path
    onStockBinding(commitPaths { (what, body) =>
      assert(shellForks(body()).nonEmpty, s"$what: no fork seen on stock")
    })
  }

  test("an explicit spark.hadoop.fs.file.impl wins over the engine's binding") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.file.impl") == classOf[LocalFs.Fs].getName)
    assert(hc.get("fs.AbstractFileSystem.file.impl") ==
      classOf[LocalFs.Afs].getName)
    assert(FileSystem.get(Root, hc).isInstanceOf[LocalFs.Fs])
    val key = "spark.hadoop.fs.file.impl"
    val counting = "latbench.CountingFs"
    assert(GraftSession.fileSystemConf(new SparkConf(false).set(key, counting))
      == Seq("spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        classOf[LocalFs.Afs].getName))
    // as a -D property, the way a traced latbench run passes it
    sys.props(key) = counting
    try assert(!GraftSession.fileSystemConf(new SparkConf()).toMap
      .contains(key))
    finally sys.props -= key
  }
}
