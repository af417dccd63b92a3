package latbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN when empty. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
}

object Jvm {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU time of every live Java thread: the engine's driver, stream and
    * task threads and the benchmark's own, but not the JIT compiler or
    * GC worker threads, which the JVM does not expose as Java threads. */
  def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }
  /** Java-thread CPU (ns) spent since `before`; threads started since
    * count in full. */
  def threadCpuSince(before: Map[Long, Long]): Long =
    threadCpu().iterator.map { case (id, t) => t - before.getOrElse(id, 0L) }.sum
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def heapAfterGcMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** One micro-batch as its query's progress reports it. `endMs` is when
  * the batch (sink write or store commit included) finished. */
final case class Batch(query: String, batchId: Long, startMs: Long,
    durations: Map[String, Long], inputRows: Long, endOffset: Long,
    stateCommitMs: Long, stateUpdateMs: Long, stateRowsUpdated: Long,
    stateRows: Long, stateBytes: Long, stateRowsRemoved: Long) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
  def endMs: Long = startMs + triggerMs
}

/** Records every query progress event. Installed on every run: batch
  * end times are how results are timed. */
final class ProgressLog extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val st = p.stateOperators
    def sum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      st.map(f).sum
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(_.trim.toLongOption).getOrElse(-1L)
    batches.add(Batch(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, end, sum(_.commitTimeMs), sum(_.allUpdatesTimeMs),
      sum(_.numRowsUpdated), sum(_.numRowsTotal), sum(_.memoryUsedBytes),
      sum(_.numRowsRemoved)))
    synchronized(notifyAll())
  }
  /** Block until the next progress event or `ms`, whichever is first. */
  def awaitEvent(ms: Long): Unit = synchronized(wait(ms))
  def of(query: String): Seq[Batch] =
    batches.asScala.filter(_.query == query).toSeq.sortBy(_.batchId)
}

/** Per-(query, batch) Spark work, attributed by the
  * `sql.streaming.queryId` / `streaming.sql.batchId` job properties the
  * micro-batch engine sets on every job it (or a foreachBatch sink)
  * runs. Attached only while a traced phase runs. */
final class JobLog extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var records = 0L
    var bytesRead = 0L; var shuffleBytes = 0L; var bytesWritten = 0L
    val intervals = ArrayBuffer.empty[(Long, Long)]
  }
  private val accs = new ConcurrentHashMap[(String, Long), Acc]()
  private val jobKey = new ConcurrentHashMap[Int, (String, Long)]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageKey = new ConcurrentHashMap[Int, (String, Long)]()

  private def acc(k: (String, Long)) = accs.computeIfAbsent(k, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    for (p <- props; q <- Option(p.getProperty("sql.streaming.queryId"))) {
      val b = Option(p.getProperty("streaming.sql.batchId"))
        .flatMap(_.toLongOption).getOrElse(-1L)
      val k = (q, b)
      jobKey.put(e.jobId, k)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageKey.put(s, k))
      val a = acc(k)
      a.synchronized(a.jobs += 1)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val k = jobKey.remove(e.jobId)
    val s = jobStart.remove(e.jobId)
    if (k != null) {
      val a = acc(k)
      a.synchronized(a.intervals += ((s, e.time)))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = stageKey.get(e.stageId)
    val m = e.taskMetrics
    if (k != null && m != null) {
      val a = acc(k)
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.records += m.inputMetrics.recordsRead
        a.bytesRead += m.inputMetrics.bytesRead
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
        a.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }
  def get(query: String, batchId: Long): Option[Acc] =
    Option(accs.get((query, batchId)))

  /** Batch wall time not covered by any of its Spark jobs. */
  def driverGapMs(b: Batch): Option[Double] = get(b.query, b.batchId).map { a =>
    val iv = a.synchronized(a.intervals.toList).map { case (s, e) =>
      (math.max(s, b.startMs), math.min(e, b.endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (b.triggerMs - covered).toDouble
  }
}

/** Spans around the benchmark's calls into the engine's public API,
  * kept in memory and written as JSON when the run ends. */
object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      endNs: Long)
  @volatile var on = false
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized(spans += Span(id, parent, name, t0, t1))
      }
    }

  def count: Int = spans.synchronized(spans.length)

  def write(f: java.io.File): Unit = {
    val body = spans.synchronized(spans.sortBy(_.startNs).toList).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${graft.core.Json.quote(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
  }
}

/** Hadoop `FileSystem.Statistics` for the `file` scheme plus the
  * [[CountingFs]] counters, read as one snapshot. */
final case class FsSnap(bytesRead: Long, bytesWritten: Long, meta: Long,
    created: Long, renames: Long) {
  def -(o: FsSnap): FsSnap = FsSnap(bytesRead - o.bytesRead,
    bytesWritten - o.bytesWritten, meta - o.meta, created - o.created,
    renames - o.renames)
  def +(o: FsSnap): FsSnap = FsSnap(bytesRead + o.bytesRead,
    bytesWritten + o.bytesWritten, meta + o.meta, created + o.created,
    renames + o.renames)
}
object FsSnap {
  val zero = FsSnap(0, 0, 0, 0, 0)
  @annotation.nowarn("cat=deprecation")
  def now(): FsSnap = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    FsSnap(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum,
      CountingFs.meta.sum(), CountingFs.created.sum(), CountingFs.renames.sum())
  }
}
