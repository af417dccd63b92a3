package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for the suite: one local JVM session, UTC, small
  * shuffle partitioning and the engine's `file:` binding (matches
  * Verify's environment). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"
  /** The store record at `dir` (`graft.store.Store`). */
  def storeRecord(dir: String): graft.store.Store.Record =
    graft.store.Store.require(spark, dir)

  /** The store record's JSON at `dir` — a snapshot [[uncommit]] can
    * put back. */
  def recordJson(dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir, graft.store.Store.RecordFile)
    graft.core.FsUtil.readSidecar(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).get
  }

  /** Turn a committed append of `tag` into the state a crash before
    * its commit leaves: the record is put back to `before` (its JSON
    * from just before the append), and of the tag's renamed-in files
    * across every table only the first `keep` by name survive. */
  def uncommit(dir: String, before: String, tag: String,
      keep: Int = Int.MaxValue): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.FsUtil.writeSidecar(fs,
      new Path(root, graft.store.Store.RecordFile), before)
    fs.listStatus(root).filter(_.isDirectory)
      .flatMap(d => fs.listStatus(d.getPath)).map(_.getPath)
      .filter(_.getName.startsWith(s"ingest-$tag-part-"))
      .sortBy(_.getName).drop(keep)
      .foreach(p => fs.delete(p, false))
  }

  /** Runs the serve stream `writer(input, outDir)` over a
    * single-partition MemoryStream of (id, text) rows named `cols`:
    * batch 0 carries `small`, batch 1 carries `large`. Then batch 1's
    * commit is dropped from the checkpoint and the stream restarts on
    * the same source, so batch 1 runs a second time. Returns `outDir`. */
  def serveWithReplay(root: String, cols: (String, String),
      small: Seq[(Long, String)], large: Seq[(Long, String)])(
      writer: (org.apache.spark.sql.DataFrame, String) =>
        org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row]): String = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val input = in.toDS().toDF(cols._1, cols._2)
    val (outDir, ckpt) = (s"$root/out", s"$root/ckpt")
    def start() = writer(input, outDir)
      .option("checkpointLocation", ckpt).start()
    val q = start()
    try {
      in.addData(small); q.processAllAvailable()
      in.addData(large); q.processAllAvailable()
    } finally q.stop()
    Seq("1", ".1.crc").foreach(f =>
      new java.io.File(s"$ckpt/commits/$f").delete())
    val replay = start()
    try replay.processAllAvailable() finally replay.stop()
    // numInputRows sums every pass over the source in the batch: a
    // batch past StreamJobs.BatchRows is read once by the bounded read
    // and again by the probe
    assert(replay.recentProgress.exists(p =>
      p.batchId == 1 && p.numInputRows >= large.size),
      "batch 1 was not replayed")
    outDir
  }

  /** Runs `body` and returns what it ran on the cluster: each job, in
    * start order, and the number of completed stages that wrote
    * shuffle rows. */
  def sparkWork[T](body: => T): (T, Seq[SparkSpec.Job], Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkSpec.Job]()
    val shuffleStages = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(SparkSpec.Job(e.stageInfos.maxBy(_.stageId).name,
          Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffleStages.incrementAndGet()
    }
    val bridge = org.apache.spark.sql.graftbridge.PlanBridge
    bridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      bridge.drainListeners(sc)
      import scala.jdk.CollectionConverters._
      (r, jobs.asScala.toSeq, shuffleStages.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** A job `sparkWork` saw: its call site (its result stage's name, e.g.
    * "collect at Foo.scala:12"; a stream's jobs carry the site of its
    * `start`) and the SQL execution it ran for, if any. */
  final case class Job(site: String, execution: Option[Long])

  lazy val session: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    graft.core.GraftSession.fileSystemConf(new org.apache.spark.SparkConf())
      .foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
