package latbench

import java.io.File
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dsl.MessageStream
import graft.streaming.{TaskRunner, TtlJoin}

/** A generated event: user rank, type (0 = left side of the join,
  * 1 = right side) and its stamp in sixteenths of a millisecond. */
final case class Raw(seq: Long, user: Int, etype: Int, at: Long)
final case class Ev(seq: Long, key: String, etype: Int, at: Long)
/** One output row of the keyed query: a KV-task result (seq, count), a
  * window() tick (count, -1) or a join pair (left seq, right seq). */
final case class KOut(kind: Int, key: String, a: Long, b: Long)

/** The KV task: counts each key's events in the task store and emits
  * the running count per event; window() emits the count on its tick. */
final class CountTask extends TaskRunner.StreamTaskLike[Ev, KOut] {
  def process(e: Ev, store: TaskRunner.KVStore,
      out: TaskRunner.Collector[KOut]): Unit = {
    val n = store.get("n").map(_.toLong).getOrElse(0L) + 1
    store.put("n", n.toString)
    store.put("k", e.key)
    out.send(KOut(KeyedState.Kv, e.key, e.seq, n))
  }
  override def window(store: TaskRunner.KVStore,
      out: TaskRunner.Collector[KOut]): Unit =
    for (k <- store.get("k"); n <- store.get("n"))
      out.send(KOut(KeyedState.Tick, k, n.toLong, -1L))
}

/** Zipf-keyed events through `MessageStream`, then a `TaskRunner` KV
  * task with a window() tick and a `TtlJoin` of the two event types, in
  * one query whose foreachBatch sink collects every result. Both
  * stateful operators keep their default processing-time timers.
  *
  * Stamps are in sixteenths of a millisecond and unique per key, so the
  * join's TTL on read is 250 ms of schedule while its cleanup timer
  * fires after 4 s of processing time. A partner loses its stored value
  * to the timer only if it reaches the engine more than 3.75 s after its
  * scheduled time; below that latency the join's output is a pure
  * function of the stamped events and the replay in [[check]] is exact.
  * Missing join pairs are reported apart from other failures, with
  * that limit named. */
final class KeyedState(seed: Long) extends Workload {
  import KeyedState._
  val tickMs = 20
  val perTick = 5
  val chunk = 1000
  val warmupChunks = 3

  private val zipf = new Gen.Zipf(Keys, ZipfS)
  private val rng = new SplittableRandom(seed)
  private val lastAt = new Array[Long](Keys)
  private val sent = mutable.ArrayBuffer.empty[(Raw, Long, Int)]
  private val sink = new ConcurrentLinkedQueue[(Long, Array[KOut])]()
  private var input: MemoryStream[Raw] = _
  private var q: StreamingQuery = _
  def queries: Seq[StreamingQuery] = Seq(q)

  def start(spark: SparkSession, dir: File, build: Boolean): Double = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    input = MemoryStream[Raw](parts(spark))
    val events = MessageStream(input.toDS())
      .map(r => Ev(r.seq, keyOf(r.user), r.etype, r.at))
    val kv = TaskRunner.run[Ev, String, KOut](events.ds, _.key,
      new CountTask, _.seq, windowMs = Some(WindowMs))
    val tagged = events.map(e => TtlJoin.Tagged[String, Long, Long](e.key,
      if (e.etype == 0) Some(e.seq) else None,
      if (e.etype == 1) Some(e.seq) else None, e.at))
    val joined = TtlJoin.join[String, Long, Long](tagged.ds, TtlStamps)
      .map(j => KOut(Join, j.key, j.left, j.right))
    val out = sink
    q = Tracer.span("DataStreamWriter.start") {
      kv.union(joined).writeStream
        .option("checkpointLocation",
          new File(dir, s"keyed-${System.nanoTime()}").toString)
        .foreachBatch { (df: Dataset[KOut], id: Long) =>
          out.add((id, df.collect())); ()
        }.start()
    }
    0.0
  }

  def offer(n: Int, schedMs: Long, phase: Int): Unit = {
    val base = sent.length.toLong
    val evs = Array.tabulate(n) { i =>
      val u = zipf.sample(rng)
      val t = rng.nextInt(2)
      val at = math.max(schedMs * StampsPerMs, lastAt(u) + 1)
      lastAt(u) = at
      Raw(base + i, u, t, at)
    }
    evs.foreach(e => sent += ((e, schedMs, phase)))
    record(schedMs, n, phase, input.addData(evs.toSeq))
  }

  /** The expected results, replayed in the JVM over the stamped events:
    * KV counts by seq, and the last-value TTL join's (left, right)
    * pairs. */
  private def replay(): (Array[Long], mutable.HashSet[(Long, Long)],
      Array[Long]) = {
    val counts = new Array[Long](Keys)
    val kv = new Array[Long](sent.length)
    val joins = mutable.HashSet.empty[(Long, Long)]
    val l = Array.fill(Keys)((-1L, 0L))
    val r = Array.fill(Keys)((-1L, 0L))
    sent.foreach { case (e, _, _) =>
      counts(e.user) += 1
      kv(e.seq.toInt) = counts(e.user)
      if (e.etype == 0) {
        l(e.user) = (e.seq, e.at)
        val (rs, rat) = r(e.user)
        if (rs >= 0 && e.at - rat <= TtlStamps) joins += ((e.seq, rs))
      } else {
        r(e.user) = (e.seq, e.at)
        val (ls, lat) = l(e.user)
        if (ls >= 0 && e.at - lat <= TtlStamps) joins += ((ls, e.seq))
      }
    }
    (kv, joins, counts)
  }

  def check(spark: SparkSession): (Long, Long) = {
    val (kv, joins, counts) = replay()
    val seenKv = new Array[Boolean](kv.length)
    val seenJoin = mutable.HashSet.empty[(Long, Long)]
    var ticks = 0L
    var bad = 0L
    def keyOk(key: String, seq: Long) =
      seq >= 0 && seq < sent.length && keyOf(sent(seq.toInt)._1.user) == key
    for ((_, rows) <- sink.asScala; o <- rows) o.kind match {
      case Kv =>
        if (keyOk(o.key, o.a) && !seenKv(o.a.toInt) && kv(o.a.toInt) == o.b)
          seenKv(o.a.toInt) = true
        else bad += 1
      case Join =>
        if (keyOk(o.key, o.a) && keyOk(o.key, o.b) &&
            joins.contains((o.a, o.b)) && seenJoin.add((o.a, o.b))) ()
        else bad += 1
      case _ =>
        ticks += 1
        val u = userOf(o.key)
        if (u < 0 || o.a < 1 || o.a > counts(u)) bad += 1
    }
    val missingKv = seenKv.count(!_)
    val missingJoin = joins.size - seenJoin.size
    if (missingKv + bad > 0)
      System.err.println(s"keyed_state: $missingKv KV results missing, $bad wrong results")
    if (missingJoin > 0)
      System.err.println(s"keyed_state: $missingJoin join pairs missing: a " +
        "wrong join, or event latency past about " +
        s"${(TtlStamps - TtlStamps / StampsPerMs) / 1000.0} s, when the " +
        "cleanup timer can drop a stored value first")
    (kv.length + joins.size + ticks, missingKv + missingJoin + bad)
  }

  /** Each KV or join result, timed from the scheduled send of the last
    * event that contributes to it to the end of the batch that emitted
    * it. Window ticks are timer outputs and are not timed. */
  def latencies(log: ProgressLog): Seq[Double] = {
    val qid = q.id.toString
    val ends = log.of(qid).map(b => b.batchId -> b.endMs).toMap
    sink.asScala.toSeq.flatMap { case (id, rows) =>
      ends.get(id).toSeq.flatMap { end =>
        rows.iterator.filter(_.kind != Tick).flatMap { o =>
          val last = if (o.kind == Kv) o.a else math.max(o.a, o.b)
          if (last < 0 || last >= sent.length) None
          else {
            val (_, sched, phase) = sent(last.toInt)
            if (phase == Phase.Open) Some((end - sched).toDouble) else None
          }
        }
      }
    }
  }

  def inputProps: Seq[(String, Double)] = {
    val c = new Array[Long](Keys)
    sent.foreach(s => c(s._1.user) += 1)
    Seq("events" -> sent.length.toDouble,
      "distinct_keys" -> c.count(_ > 0).toDouble,
      "top_key_share" -> c.max.toDouble / math.max(1, sent.length))
  }
}

object KeyedState {
  val Kv = 0
  val Tick = 1
  val Join = 2
  val Keys = 4000
  val ZipfS = 0.99
  val WindowMs = 2000L
  val StampsPerMs = 16L
  /** 250 ms of stamps; also the cleanup timer in ms. */
  val TtlStamps = 4000L
  def keyOf(user: Int): String = f"u$user%05d"
  def userOf(key: String): Int =
    if (key.length == 6 && key.startsWith("u")) key.substring(1).toIntOption
      .filter(u => u >= 0 && u < Keys).getOrElse(-1)
    else -1
}
