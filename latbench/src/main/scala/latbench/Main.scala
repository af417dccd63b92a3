package latbench

import java.io.File
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.latbench.Bridge
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession
import graft.streaming.ModelCache

/** Runs one workload in this JVM and prints one JSON result line.
  *
  * Untraced (`--trace 0`): set-up, an open-loop phase at the workload's
  * fixed rate that yields the latency percentiles, and a closed-loop
  * phase over fixed-size chunks that yields throughput and CPU per
  * item. The open loop gets most of `--seconds` (the workload's
  * `openShare`), the closed loop the rest: latency percentiles need
  * many batches, while chunk throughput is steady over a few chunks.
  *
  * Traced (`--trace 1`): the same phases with spans and listener counts;
  * the closed loop alternates traced and untraced chunks (for
  * `trace.overhead`), then come the serve split pass and the closed
  * loop again at `local[1]`. */
object Main {
  val ThinkMs = 20L

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: File)

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val code =
      try {
        val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
        val a = Args(m("--workload"), m("--seed").toLong, m("--seconds").toInt,
          m("--trace") == "1", new File(m("--work")))
        run(a, t0)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  def make(name: String, seed: Long, firstId: Long = Stored.CorpusDocs): Workload =
    name match {
      case "keyed_state" => new KeyedState(seed)
      case "serve_stored" => new ServeStored(seed)
      case "ingest_stored" => new IngestStored(seed, firstId)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Closed-loop chunks of one kind: per-chunk items/s, and the
    * Java-thread CPU and GC time they took. */
  final class Closed {
    val thr = ArrayBuffer.empty[Double]
    var cpuMs = 0.0
    var gcMs = 0.0
    var items = 0L
    val intervals = ArrayBuffer.empty[(Long, Long)]
    def median: Double = Stats.median(thr.toSeq)

    /** After a think time, offer one chunk and wait for all of its
      * results. The think time lets the engine start its next batch
      * first, so a chunk never races that batch's offset fetch: where
      * timers keep batches running, every chunk waits out one batch and
      * rides the next, instead of riding one or two at random. */
    def chunk(w: Workload, phase: Int, log: ProgressLog): Unit = {
      Thread.sleep(ThinkMs)
      val s0 = System.currentTimeMillis()
      val cpu0 = Jvm.threadCpu()
      val gc0 = Jvm.gcMs
      val c0 = System.nanoTime()
      Tracer.span("chunk") {
        w.offer(w.chunk, System.currentTimeMillis(), phase)
        Tracer.span("await")(w.await(log))
      }
      thr += w.chunk / secs(c0)
      cpuMs += Jvm.threadCpuSince(cpu0) / 1e6
      gcMs += Jvm.gcMs - gc0
      items += w.chunk
      intervals += ((s0, System.currentTimeMillis()))
    }
  }

  /** Fixed-size chunks, each offered and awaited before the next, for
    * `seconds` and at least three chunks. */
  def closedLoop(w: Workload, seconds: Double, log: ProgressLog): Closed = {
    val c = new Closed
    val t0 = System.nanoTime()
    while (secs(t0) < seconds || c.thr.length < 3) c.chunk(w, Phase.Closed, log)
    c
  }

  /** One generator thread (this one) offers `perTick` items every
    * `tickMs` on a fixed schedule, whatever the engine's progress, and
    * stamps each offer with its scheduled time. Returns each offer's
    * lateness behind its schedule (ms) and the phase's wall interval. */
  def openLoop(w: Workload, seconds: Double, log: ProgressLog)
      : (Seq[Double], Long, Long) = {
    val ticks = (seconds * 1000 / w.tickMs).toInt
    val lag = ArrayBuffer.empty[Double]
    val startMs = System.currentTimeMillis() + 20
    val startNs = System.nanoTime() + 20000000L
    for (i <- 0 until ticks) {
      val due = startNs + i.toLong * w.tickMs * 1000000L
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      lag += (now - due) / 1e6
      w.offer(w.perTick, startMs + i.toLong * w.tickMs, Phase.Open)
    }
    w.await(log)
    (lag.toSeq, startMs, System.currentTimeMillis())
  }

  def session(master: String, log: ProgressLog): SparkSession = {
    val s = Tracer.span("GraftSession.apply") {
      GraftSession("latbench", master = Some(master))
    }
    s.streams.addListener(log)
    s
  }

  /** Generate inputs, build stores, start the queries and warm up by a
    * fixed number of chunks. Returns (store build s, warm-up s). */
  def setUp(spark: SparkSession, w: Workload, dir: File, build: Boolean,
      log: ProgressLog): (Double, Double) = {
    val b = Tracer.span("setup.start")(w.start(spark, dir, build))
    val w0 = System.nanoTime()
    Tracer.span("setup.warmup") {
      for (_ <- 1 to w.warmupChunks) {
        w.offer(w.chunk, System.currentTimeMillis(), Phase.Warmup)
        w.await(log)
      }
    }
    (b, secs(w0))
  }

  def run(a: Args, t0: Long): Unit = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    Tracer.on = a.trace
    val log = new ProgressLog
    val jobs = new JobLog
    var spark = session(s"local[$cpus]", log)
    val sessionS = secs(t0)
    val w = make(a.workload, a.seed)
    val dir = new File(a.work, "stores")
    dir.mkdirs()
    val (buildS, warmS) = setUp(spark, w, dir, build = true, log)
    val setupS = secs(t0)

    val openS = a.seconds * w.openShare
    val closedS = a.seconds - openS
    if (a.trace) spark.sparkContext.addSparkListener(jobs)
    val (lag, openStart, openEnd) = Tracer.span("open_loop")(openLoop(w, openS, log))
    if (a.trace) {
      Bridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
    }
    val lat = w.latencies(log)

    val props = ArrayBuffer.empty[(String, Any)]
    var attempted = 0L
    var failed = 0L
    val metrics = ArrayBuffer.empty[(String, Double, String)]
    var checkS = 0.0
    def checked(w: Workload): Unit = {
      Tracer.span("StreamingQuery.stop")(w.stop())
      val c0 = System.nanoTime()
      val (n, f) = Tracer.span("check")(w.check(spark))
      checkS += secs(c0)
      attempted += n
      failed += f
    }
    def described(w: Workload): Unit = {
      checked(w)
      props ++= w.inputProps
      w match { case s: ServeStored => props ++= s.cellProps(spark); case _ => }
    }

    val closed =
      if (!a.trace) {
        val c = closedLoop(w, closedS, log)
        metrics += (("latency_p50_ms", Stats.quantile(lat, 0.5), "ms"))
        metrics += (("latency_p95_ms", Stats.quantile(lat, 0.95), "ms"))
        metrics += (("throughput_per_s", c.median, "1/s"))
        metrics += (("cpu_ms_per_item", c.cpuMs / c.items, "ms"))
        metrics += (("setup_s", setupS, "s"))
        described(w)
        c
      } else {
        // traced and untraced chunks alternate (in alternating order), so
        // drift over the phase reaches both kinds alike
        val plain = new Closed
        val traced = new Closed
        var fs = FsSnap.zero
        val c0 = System.nanoTime()
        var i = 0
        while (secs(c0) < closedS || traced.thr.length < 3 || plain.thr.length < 3) {
          for (on <- if (i % 2 == 0) Seq(false, true) else Seq(true, false)) {
            if (!on) { Tracer.on = false; plain.chunk(w, Phase.Closed, log) }
            else {
              Tracer.on = true
              spark.sparkContext.addSparkListener(jobs)
              val f0 = FsSnap.now()
              traced.chunk(w, Phase.Closed, log)
              fs = fs + (FsSnap.now() - f0)
              Bridge.drainListeners(spark.sparkContext)
              spark.sparkContext.removeSparkListener(jobs)
            }
          }
          i += 1
        }
        Tracer.on = true
        val split = w match {
          case s: ServeStored =>
            val (t, (n, f)) = Tracer.span("serve_split_pass")(s.splitPass(spark, 4))
            attempted += n
            failed += f
            t
          case _ => Nil
        }
        metrics ++= Layers.metrics(a.workload, w, log, jobs, openStart, openEnd,
          traced.intervals.toSeq, fs, split)
        metrics += (("core.session_s", sessionS, "s"))
        metrics += (("setup.warmup_s", warmS, "s"))
        metrics += (("operators.store_build_s", buildS, "s"))
        metrics += (("core.gc_ms_per_item", plain.gcMs / plain.items, "ms"))
        metrics += (("core.heap_after_gc_mb", Jvm.heapAfterGcMb, "MB"))
        metrics += (("streaming.backlog_rows_max", w.backlogMax(log), "rows"))
        metrics += (("gen.lag_ms_p99", Stats.quantile(lag, 0.99), "ms"))
        metrics += (("trace.overhead", plain.median / traced.median, "ratio"))
        described(w)

        // the same closed loop on one core, over the same stores
        ModelCache.clear()
        spark.stop()
        spark = session("local[1]", log)
        val nextId = w match { case i: IngestStored => i.next; case _ => 0L }
        val one = make(a.workload, a.seed, nextId)
        setUp(spark, one, dir, build = false, log)
        val c1 = Tracer.span("closed_loop.1c")(closedLoop(one, closedS, log))
        checked(one)
        metrics += (("scaling.speedup_vs_1c", plain.median / c1.median, "ratio"))
        val spans = new File(a.work.getParentFile, s"spans-${a.workload}-${a.seed}.json")
        Tracer.write(spans)
        System.err.println(s"latbench: ${Tracer.count} spans written to $spans")
        plain
      }
    spark.stop()

    props ++= Seq("latency_samples" -> lat.length, "open_offers" -> lag.length,
      "gen_lag_ms_p99" -> Stats.quantile(lag, 0.99),
      "closed_chunks" -> closed.thr.length, "chunk_items" -> w.chunk,
      "chunk_per_s" -> closed.thr.map(x => f"$x%.1f").mkString("/"),
      "session_s" -> sessionS, "store_build_s" -> buildS, "warmup_s" -> warmS,
      "check_s" -> checkS, "run_s" -> secs(t0))
    println("info " + Json.obj(props.toSeq))
    val ok = failed == 0 && attempted > 0 && lat.length >= 200
    println(Json.result(ok, attempted, failed, metrics.toSeq))
  }
}

object Json {
  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString
  private def value(v: Any): String = v match {
    case d: Double => num(d)
    case n: Number => n.toString
    case s => graft.core.Json.quote(s.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s""""$k":${value(v)}""" }.mkString("{", ",", "}")
  def result(ok: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }
}
