package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Deterministic micro-batch driver for the faithful streaming
  * operators (StreamWindows / TtlJoin / TaskRunner): feeds timestamped
  * batches through a MemoryStream under an injected clock so a
  * STREAMING run of the stateful implementation produces a result a
  * batch SQL oracle can verify hash-exactly.
  *
  * This is the parity/test harness, not a scale path: input batches
  * are driver-resident (like the reference's TestRunner in-memory
  * system, samza-test/.../framework/TestRunner.java) and the clock is
  * a process-global — valid in local mode where driver and executors
  * share one JVM. The production operators take an arbitrary
  * `clock: () => Long` and run on ordinary distributed Datasets /
  * streams; only this harness is local-by-design.
  */
object StreamHarness {

  /** Injected wall clock read by operator lambdas executor-side.
    * Volatile: written by the driver between micro-batches, read by
    * task threads during them (same JVM in local mode). */
  @volatile var nowMs: Long = 0L

  val clock: () => Long = () => nowMs

  private val nameCounter = new AtomicInteger(0)

  /** Live-query observer: when set, receives each harness query
    * while it is STILL RUNNING (after its final micro-batch, just
    * before stop) — tools.LintReport lints the IncrementalExecution
    * (state-store operators, stream-side exchanges) through it,
    * which the collected batch-result frame can never show. Dev-tool
    * only, JVM-global like the rest of the harness state, never set
    * in production or gate paths. */
  @volatile private[graft] var liveQueryProbe:
    org.apache.spark.sql.streaming.StreamingQuery => Unit = null

  /** Invoke the live-query probe (if set) without letting a probe
    * failure skip the query stop / checkpoint cleanup that follows in
    * the caller's finally, or mask the body's own exception. Reads the
    * volatile once — a concurrent clear can't NPE between check and
    * call. */
  private def probeLive(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val live = liveQueryProbe
    if (live != null)
      try live(q)
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Throwaway-checkpoint scratch dirs, shared by the parity harness
    * and StreamJobs.drainToTable: every micro-batch fsyncs
    * offset/commit logs and state-store deltas into the checkpoint
    * dir, so a disk-backed temp dir puts rotational/overlay-fs
    * latency on the per-batch floor. A tmpfs mount (when present)
    * takes it off — these are throwaway run-scoped checkpoints, not
    * durable state; production jobs point checkpointLocation at
    * durable storage. Dir names carry a UUID so a crashed run's
    * leftovers or a concurrently-running JVM can never collide into
    * the same checkpoint (Spark would attempt recovery against a
    * foreign run's offsets). */
  private[streaming] object CheckpointScratch {
    private val base: java.nio.file.Path = {
      val shm = java.nio.file.Paths.get("/dev/shm")
      val root =
        if (java.nio.file.Files.isWritable(shm)) shm
        else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
      val dir = java.nio.file.Files.createDirectories(
        root.resolve("graft_ckpt"))
      // UUID names never get revisited, so a crashed run's leftovers
      // would otherwise accumulate in RAM-backed tmpfs forever. Sweep
      // stale entries once per JVM. Entries carry their owner PID
      // ("p<pid>-…"), and an entry whose owner is STILL ALIVE is
      // never reaped regardless of age — an idle-but-live streaming
      // query in a concurrent JVM must not lose its checkpoint
      // mid-run. "Alive" means a process with that PID exists AND
      // started no later than the entry was created: an OS-recycled
      // PID belonging to some unrelated long-lived process must not
      // shield a dead run's leftovers in RAM-backed tmpfs forever.
      // For dead owners (and legacy unprefixed names) staleness is
      // judged by the NEWEST mtime anywhere under the entry, not the
      // top-level dir's (which never advances past the last
      // checkpoint-subdir creation).
      try {
        val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
        val OwnerPid = "^p(\\d+)-.*$".r
        def ownerAlive(p: java.nio.file.Path): Boolean =
          p.getFileName.toString match {
            case OwnerPid(pid) =>
              val ph = ProcessHandle.of(pid.toLong)
              ph.isPresent && {
                val started = ph.get.info.startInstant
                // no start time available → be conservative, keep
                !started.isPresent ||
                  started.get.toEpochMilli <= java.nio.file.Files
                    .getLastModifiedTime(p).toMillis
              }
            case _ => false
          }
        def newestMtime(p: java.nio.file.Path): Long = {
          val walk = java.nio.file.Files.walk(p)
          try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala.map(f => java.nio.file.Files
              .getLastModifiedTime(f).toMillis).maxOption.getOrElse(0L)
          } finally walk.close()
        }
        val ls = java.nio.file.Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          ls.iterator().asScala.toSeq
            .filter(p => !ownerAlive(p) && newestMtime(p) < cutoff)
            .foreach(delete)
        } finally ls.close()
      } catch { case scala.util.control.NonFatal(_) => () }
      dir
    }

    def fresh(prefix: String): java.nio.file.Path = base.resolve(
      "p" + ProcessHandle.current().pid() + "-" + prefix + "_" +
        java.util.UUID.randomUUID().toString.replace("-", ""))

    /** Best-effort recursive delete; the walk stream is closed (it
      * holds directory descriptors) and failures never mask a
      * successful run — the data already reached the memory sink. */
    def delete(p: java.nio.file.Path): Unit =
      try {
        if (java.nio.file.Files.exists(p)) {
          val walk = java.nio.file.Files.walk(p)
          try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.deleteIfExists(_))
          } finally walk.close()
        }
      } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Stateful-operator partition count for harness queries. Every
    * micro-batch commits one state store PER shuffle partition, so a
    * 32-partition session pays 32 store commits × batches for
    * driver-fed volumes that fit in a handful — the fixed overhead
    * that dominates the parity queries' bench cost. The partition
    * count pins into the checkpoint at the first batch, so setting it
    * for the query's lifetime (and restoring after) is safe. 2, not
    * 1: the round-19 interleaved A/B measured them within noise of
    * each other (OPTIMIZATION_r19.md), and 2 exercises
    * cross-partition state commits, which a 1-partition harness would
    * silently stop covering. */
  private val harnessPartitions = "2"

  private def withHarnessPartitions[R](spark: SparkSession)(body: => R): R = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, harnessPartitions)
    try body finally spark.conf.set(key, prev)
  }

  /** Run `build` over a MemoryStream fed with `steps`: for each
    * (clockMs, batch) the harness sets the injected clock, adds the
    * batch, and drains the micro-batch before moving on — so state
    * crosses batch boundaries exactly as it would across Samza
    * process() invocations over time. Returns the collected append
    * output.
    *
    * Clock-only steps (empty batch) drain a zero-row micro-batch (an
    * empty MemoryStream block still advances the offset), but without
    * timers they cannot INVOKE keys that got no data — nothing
    * flushes. Operators here must use `NoTimeout` (armed
    * processing-time timeouts make Spark rerun no-data batches
    * forever, so processAllAvailable would never return). When
    * clock-only steps must flush idle keys, use [[runWithTicks]]. */
  def run[T: Encoder](spark: SparkSession, steps: Seq[(Long, Seq[T])])(
      build: Dataset[T] => Dataset[_]): DataFrame =
    withHarnessPartitions(spark) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[T]
      val name = s"graft_stream_parity_${nameCounter.incrementAndGet()}"
      val ckpt = CheckpointScratch.fresh(name)
      val q = build(input.toDS()).writeStream.outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .format("memory").queryName(name).start()
      try {
        steps.foreach { case (t, batch) =>
          nowMs = t
          input.addData(batch)
          q.processAllAvailable()
        }
      } finally {
        probeLive(q)
        q.stop(); CheckpointScratch.delete(ckpt)
      }
      spark.table(name)
    }

  /** Input shape [[runWithTicks]] hands to its `build`: (value,
    * stepEventTime, isData). isData is always true by then (sentinels
    * are filtered); it rides along because a typed .map would strip
    * the watermark metadata off the timestamp column (see below). */
  type Ticked[T] = (T, java.sql.Timestamp, Boolean)

  /** [[run]] plus a per-step WATERMARK tick, so operators running with
    * `GroupStateTimeout.EventTimeTimeout` flush idle keys on
    * clock-only steps — the RunLoop-timer-tick analog
    * (container/RunLoop.java:79-121) that [[run]] cannot express.
    *
    * Every step feeds its rows enveloped as (stepMs, isData, value)
    * plus one sentinel (stepMs, false, `sentinel`), so the watermark
    * reaches stepMs even when `batch` is empty. Event-time timeouts
    * fire on the engine's one follow-up batch per watermark advance,
    * with the operator's injected clock (= [[clock]]) deciding what
    * is actually due; then the query quiesces, so processAllAvailable
    * terminates (unlike armed processing-time timeouts, which rerun
    * no-data batches forever). `sentinel` never reaches `build`.
    * Steps must be clock-monotonic (watermarks never regress).
    *
    * Plumbing constraints baked into the [[Ticked]] shape: Spark's
    * event-time-timeout checker requires the watermark-tagged column
    * in the stateful operator's CHILD OUTPUT, and a typed .map
    * re-serializes into fresh attributes (metadata gone), so the
    * timestamp column must ride inside the element tuple all the way
    * to groupByKey; sentinels are dropped by a TYPED filter, which
    * keeps child attributes (a Column filter would be pushed below
    * the watermark node and the tick would never reach it). */
  def runWithTicks[T: Encoder](spark: SparkSession,
      steps: Seq[(Long, Seq[T])], sentinel: T)(
      build: Dataset[Ticked[T]] => Dataset[_]): DataFrame =
    withHarnessPartitions(spark) {
      implicit val sqlCtx = spark.sqlContext
      implicit val envEnc: Encoder[(Long, Boolean, T)] =
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaBoolean,
          implicitly[Encoder[T]])
      val tickedEnc: Encoder[Ticked[T]] =
        Encoders.tuple(implicitly[Encoder[T]], Encoders.TIMESTAMP,
          Encoders.scalaBoolean)
      val input = MemoryStream[(Long, Boolean, T)]
      val data: Dataset[Ticked[T]] = input.toDS()
        .map(e => (e._3, new java.sql.Timestamp(e._1), e._2))(tickedEnc)
        .withWatermark("_2", "0 milliseconds")
        .filter(_._3) // typed on purpose — see scaladoc
      val name = s"graft_stream_parity_${nameCounter.incrementAndGet()}"
      val ckpt = CheckpointScratch.fresh(name)
      val q = build(data).writeStream.outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .format("memory").queryName(name).start()
      try {
        steps.foreach { case (t, batch) =>
          nowMs = t
          input.addData(batch.map(v => (t, true, v)) :+ ((t, false, sentinel)))
          q.processAllAvailable()
        }
      } finally {
        probeLive(q)
        q.stop(); CheckpointScratch.delete(ckpt)
      }
      spark.table(name)
    }
}
