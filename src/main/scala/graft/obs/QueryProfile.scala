package graft.obs

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Where a named row's seconds went: one `SparkListener` plus one
  * `StreamingQueryListener`, attributing every Spark job, stage and
  * task, and every micro-batch progress report, to the row that ran it.
  *
  * Attribution: [[row]] sets the SparkContext local property
  * [[QueryProfile.RowKey]] for the duration of its body, so every job
  * started from that thread carries the row's name. Streaming-query
  * threads the body starts inherit local properties, so their batch
  * jobs and foreachBatch sink jobs carry it too, beside the
  * `sql.streaming.queryId` the micro-batch engine sets; progress events
  * reach the row through that query id. Progress events travel on
  * another listener-bus queue than job events, so the query-id mapping
  * is resolved when a row is read, after [[row]] has drained the bus.
  *
  * GC time is the JVM's collection time over the row: in local mode
  * every task shares the driver JVM, so the per-task `jvmGCTime`
  * would count one pause once per concurrent task.
  *
  * Mains install it (Bench, RunOne, BarPair); no engine
  * code path does. Reference analog: the per-trigger progress
  * reporting of Structured Streaming (SIGMOD'18, §7.1). */
final class QueryProfile private (spark: SparkSession) {
  import QueryProfile._

  private val sc = spark.sparkContext

  private final class Acc {
    var startMs = 0L; var endMs = 0L; var wallNs = 0L; var gcMs = 0L
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L
    var memSpill = 0L; var diskSpill = 0L
    var callbackNs = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val queries = mutable.Set.empty[String]
  }

  // every field below is guarded by `this`
  private val rows = mutable.Map.empty[String, Acc]
  private val jobs = mutable.Map.empty[Int, (Acc, Long)]
  private val stages = mutable.Map.empty[Int, Acc]
  private val batches = mutable.Map.empty[String, mutable.Map[Long, Batch]]

  /** Charge a callback's own time to the row it attributed. */
  private def timed(body: => Option[Acc]): Unit = {
    val t0 = System.nanoTime()
    synchronized(body.foreach(_.callbackNs += System.nanoTime() - t0))
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val props = Option(e.properties)
      for (p <- props; name <- Option(p.getProperty(RowKey));
          a <- rows.get(name)) yield {
        a.jobs += 1
        jobs(e.jobId) = (a, e.time)
        e.stageIds.foreach(stages(_) = a)
        Option(p.getProperty("sql.streaming.queryId")).foreach(a.queries += _)
        a
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.remove(e.jobId).map { case (a, start) =>
        a.intervals += ((start, e.time)); a
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      timed(stages.get(e.stageInfo.stageId).map { a => a.stages += 1; a })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      for (a <- stages.get(e.stageId); m <- Option(e.taskMetrics)) yield {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.memSpill += m.memoryBytesSpilled
        a.diskSpill += m.diskBytesSpilled
        a
      }
    }
  }

  private val progressListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = timed {
      val p = e.progress
      val st = p.stateOperators.toSeq
      batches.getOrElseUpdate(p.id.toString, mutable.Map.empty)(p.batchId) =
        Batch(p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
          st.map(_.commitTimeMs).sum)
      rows.values.find(_.queries(p.id.toString))
    }
  }

  sc.addSparkListener(jobListener)
  spark.streams.addListener(progressListener)

  /** Run `body` as row `name` (a fresh record replaces an earlier row
    * of that name), then drain the listener bus so [[get]] sees every
    * event the row posted. Only the body is inside the row's wall time. */
  def row[T](name: String)(body: => T): T = {
    val a = new Acc
    synchronized { rows(name) = a; jobs.clear(); stages.clear() }
    val prev = sc.getLocalProperty(RowKey)
    val gc0 = gcMs()
    sc.setLocalProperty(RowKey, name)
    a.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      a.wallNs = System.nanoTime() - t0
      a.endMs = System.currentTimeMillis()
      sc.setLocalProperty(RowKey, prev)
      a.gcMs = gcMs() - gc0
      // a bus that stays busy past the drain's timeout costs the row
      // its late events, never the caller its run
      try PlanBridge.drainListeners(sc)
      catch { case e: java.util.concurrent.TimeoutException =>
        System.err.println(s"[profile] $name: listener bus not drained: $e")
      }
    }
  }

  /** Row `name`'s breakdown, or None when no such row ran. */
  def get(name: String): Option[Row] = synchronized {
    rows.get(name).map { a =>
      val bs = a.queries.toSeq.flatMap(q => batches.get(q).map(_.toMap))
      val all = bs.flatMap(_.values)
      Row(wallS = a.wallNs / 1e9,
        driverGapS = (a.endMs - a.startMs - covered(a)).max(0L) / 1e3,
        jobs = a.jobs, stages = a.stages, tasks = a.tasks,
        taskRunS = a.runMs / 1e3, taskCpuS = a.cpuNs / 1e9,
        gcS = a.gcMs / 1e3, shuffleReadBytes = a.shuffleRead,
        shuffleWriteBytes = a.shuffleWrite, memSpillBytes = a.memSpill,
        diskSpillBytes = a.diskSpill, batches = all.size,
        phasesMs = all.flatMap(_.phases).groupMapReduce(_._1)(_._2)(_ + _),
        stateRows = bs.map(b => b.values.map(_.stateRows).maxOption
          .getOrElse(0L)).sum,
        stateMemBytes = bs.map(b => b.values.map(_.stateMem).maxOption
          .getOrElse(0L)).sum,
        stateCommitMs = all.map(_.stateCommitMs).sum,
        callbackMs = a.callbackNs / 1e6)
    }
  }

  /** Row `name` as one JSON object ("{}" when no such row ran). */
  def json(name: String): String = get(name).map(_.json).getOrElse("{}")

  /** Detach both listeners. */
  def close(): Unit = {
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(progressListener)
  }

  /** Milliseconds of the row's window covered by at least one job. */
  private def covered(a: Acc): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    a.intervals.map { case (s, e) => (s max a.startMs, e min a.endMs) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { total += curE - curS; curS = s; curE = e }
        else curE = curE max e
      }
    total + (curE - curS)
  }
}

object QueryProfile {

  private final case class Batch(phases: Map[String, Long],
      stateRows: Long, stateMem: Long, stateCommitMs: Long)

  /** The SparkContext local property naming the row a job belongs to. */
  val RowKey = "graft.profile.row"

  /** Attach a profile to `spark`'s SparkContext and stream manager. */
  def install(spark: SparkSession): QueryProfile = new QueryProfile(spark)

  /** One row's breakdown. Seconds for times unless the name says ms;
    * bytes for sizes. The streaming fields sum over every micro-batch
    * of every query the row ran; state rows and memory take each
    * query's peak batch. */
  final case class Row(wallS: Double, driverGapS: Double, jobs: Long,
      stages: Long, tasks: Long, taskRunS: Double, taskCpuS: Double,
      gcS: Double, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      memSpillBytes: Long, diskSpillBytes: Long, batches: Int,
      phasesMs: Map[String, Long], stateRows: Long, stateMemBytes: Long,
      stateCommitMs: Long, callbackMs: Double) {
    def json: String = {
      def d(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      val stream =
        if (batches == 0) ""
        else phasesMs.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${graft.core.Json.quote(k)}:$v" }
          .mkString(""","phases_ms":{""", ",", "}") +
          s""","state_rows":$stateRows,"state_mem_b":$stateMemBytes""" +
          s""","state_commit_ms":$stateCommitMs"""
      s"""{"wall_s":${d(wallS)},"driver_gap_s":${d(driverGapS)},""" +
        s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""task_run_s":${d(taskRunS)},"task_cpu_s":${d(taskCpuS)},""" +
        s""""gc_s":${d(gcS)},"shuffle_read_b":$shuffleReadBytes,""" +
        s""""shuffle_write_b":$shuffleWriteBytes,""" +
        s""""spill_mem_b":$memSpillBytes,"spill_disk_b":$diskSpillBytes,""" +
        s""""batches":$batches$stream,"callback_ms":${d(callbackMs)}}"""
    }
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
}
