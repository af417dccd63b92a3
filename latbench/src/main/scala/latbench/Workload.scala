package latbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.streaming.StreamingQuery

/** One `addData` call: `n` items scheduled at `schedMs`, landing at
  * `offsets(queryIndex)` of each query's memory source. */
final case class Offer(schedMs: Long, n: Int, phase: Int,
    offsets: IndexedSeq[Long])

object Phase { val Warmup = 0; val Open = 1; val Closed = 2 }

/** A workload: the streaming queries it runs over the engine's public
  * API, how it offers items to them, and how it checks their results.
  * Rates, chunk sizes and corpus sizes are constants of each workload. */
abstract class Workload {
  /** Open loop: `perTick` items every `tickMs`. */
  def tickMs: Int
  def perTick: Int
  /** Share of `--seconds` given to the open loop; the closed loop gets
    * the rest (and at least three chunks). */
  def openShare: Double = 0.7
  /** Closed loop: items per chunk. */
  def chunk: Int
  /** Set-up ends with this many closed-loop chunks (warm-up by count). */
  def warmupChunks: Int

  /** Generate inputs, build stores (when `build`) and start the
    * queries, with everything under `dir`. Returns the store-build
    * seconds. */
  def start(spark: SparkSession, dir: File, build: Boolean): Double
  /** Offer `n` new items now, stamped with the scheduled time. */
  def offer(n: Int, schedMs: Long, phase: Int): Unit
  def queries: Seq[StreamingQuery]
  def stop(): Unit = queries.foreach(_.stop())
  /** Check every result: (items attempted, items failed). */
  def check(spark: SparkSession): (Long, Long)
  /** Latency samples (ms) of the open-loop phase. */
  def latencies(log: ProgressLog): Seq[Double]
  /** Measured input properties, printed with each run. */
  def inputProps: Seq[(String, Double)]

  val offers = ArrayBuffer.empty[Offer]

  /** Input partitions of every memory source: one per core, as a topic
    * with that many partitions would give, however many `addData` calls
    * a batch spans. */
  protected def parts(spark: SparkSession): Int =
    spark.sparkContext.defaultParallelism

  protected def record(schedMs: Long, n: Int, phase: Int,
      offs: Offset*): Unit =
    offers += Offer(schedMs, n, phase, offs.map(_.json.trim.toLong).toIndexedSeq)

  /** Block until every query has finished a batch covering everything
    * offered so far, waking on progress events. (`processAllAvailable`
    * never returns while processing-time timers keep the engine running
    * no-data batches.) */
  def await(log: ProgressLog): Unit = if (offers.nonEmpty) {
    val want = offers.last.offsets
    val deadline = System.nanoTime() + 120L * 1000000000L
    queries.zipWithIndex.foreach { case (q, i) =>
      def done = Option(q.lastProgress).exists(p =>
        p.sources.headOption.flatMap(s => Option(s.endOffset))
          .flatMap(_.trim.toLongOption).exists(_ >= want(i)))
      while (!done) {
        q.exception.foreach(e => throw e)
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"query ${q.id} stalled")
        log.awaitEvent(50)
      }
    }
  }

  /** Open-loop latency by source offsets: an item is done when every
    * query has ended the batch that read its offset. */
  protected def offsetLatencies(log: ProgressLog): Seq[Double] = {
    val ends = queries.map { q =>
      log.of(q.id.toString).filter(_.endOffset >= 0)
        .map(b => (b.endOffset, b.endMs)).toIndexedSeq
    }
    offers.filter(_.phase == Phase.Open).flatMap { o =>
      val done = ends.zipWithIndex.map { case (es, i) =>
        es.find(_._1 >= o.offsets(i)).map(_._2)
      }
      if (done.exists(_.isEmpty)) Nil
      else Seq.fill(o.n)((done.flatten.max - o.schedMs).toDouble)
    }.toSeq
  }

  /** Largest open-loop backlog seen at a batch end: items scheduled by
    * then minus items in batches ended by then (worst query). */
  def backlogMax(log: ProgressLog): Double = {
    val open = offers.filter(_.phase == Phase.Open)
    if (open.isEmpty) 0.0
    else queries.zipWithIndex.map { case (q, i) =>
      var covered = -1L
      log.of(q.id.toString).sortBy(_.endMs).flatMap { b =>
        covered = math.max(covered, b.endOffset)
        if (b.endMs < open.head.schedMs || b.startMs > open.last.schedMs) None
        else Some((open.filter(_.schedMs <= b.endMs).map(_.n).sum -
          open.filter(_.offsets(i) <= covered).map(_.n).sum).toDouble)
      }.maxOption.getOrElse(0.0)
    }.max
  }
}
