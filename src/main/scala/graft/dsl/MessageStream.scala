package graft.dsl

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, Future}

import org.apache.spark.sql.{Column, Dataset, Encoder}
import org.apache.spark.sql.functions._

/** Typed fluent operator surface with the same shape as the reference's
  * high-level DSL (samza-api/.../operators/MessageStream.java:50 —
  * MAP, FLAT_MAP, FILTER, MERGE, PARTITION_BY, BROADCAST, ASYNC_FLAT_MAP,
  * SINK; WINDOW and JOIN live on [[KVStream]] since they are keyed).
  *
  * Thin wrapper over Dataset[T]: each operator delegates to the Spark
  * primitive so Catalyst still owns planning. The lambda forms mirror
  * Samza's function SPI; for hot paths prefer the Column-based engine
  * operators in graft.queries / graft.operators, which stay inside
  * whole-stage codegen (typed lambdas force object serialization).
  */
final case class MessageStream[T](ds: Dataset[T]) {

  /** MAP (MessageStream.java:60). */
  def map[U: Encoder](f: T => U): MessageStream[U] = MessageStream(ds.map(f))

  /** FILTER (:107). */
  def filter(p: T => Boolean): MessageStream[T] = MessageStream(ds.filter(p))

  /** FLAT_MAP (:70). */
  def flatMap[U: Encoder](f: T => IterableOnce[U]): MessageStream[U] =
    MessageStream(ds.flatMap(t => f(t).iterator))

  /** ASYNC_FLAT_MAP (:95) — Samza's hook for remote I/O inside the
    * pipeline (AsyncFlatmapOperatorImpl). Spark shape: per-partition
    * batched futures — launch up to `inflight` concurrent calls, drain
    * in order. One client per partition, like one task-instance client
    * in the reference. */
  def flatMapAsync[U: Encoder](inflight: Int, timeout: Duration)(
      f: T => Future[IterableOnce[U]]): MessageStream[U] =
    MessageStream(ds.mapPartitions { rows =>
      rows.grouped(inflight).flatMap { batch =>
        val futs = batch.map(f) // launch the whole window, then drain
        futs.iterator.flatMap(fu => Await.result(fu, timeout).iterator)
      }
    })

  /** MERGE (:227) — bag union, no dedup, like mergeAll (:239). */
  def merge(others: MessageStream[T]*): MessageStream[T] =
    MessageStream(others.foldLeft(ds)((a, b) => a.union(b.ds)))

  /** PARTITION_BY (:280): repartition-by-key into a KV stream. In the
    * reference this writes through an intermediate Kafka topic; here it
    * is a shuffle exchange keyed on K. */
  def partitionBy[K: Encoder, V: Encoder](keyFn: T => K, valueFn: T => V)(
      implicit kvEnc: Encoder[(K, V)]): KVStream[K, V] = {
    val kv = ds.map(t => (keyFn(t), valueFn(t)))
    KVStream(kv.repartition(col("_1")))
  }

  /** BROADCAST (:328): every downstream partition sees every message.
    * Bounded analog: replicate each row `copies` times and spread the
    * copies across partitions. (For small streams prefer collecting to
    * a driver broadcast variable — see Tables.broadcastable.) */
  def broadcastAll(copies: Int)(implicit enc: Encoder[(Int, T)]): Dataset[(Int, T)] =
    ds.flatMap(t => (0 until copies).map(i => (i, t)))
      .repartition(copies, col("_1"))

  /** SINK (:121): arbitrary side-effecting terminal. */
  def sink(f: T => Unit): Unit = ds.foreach(r => f(r))

  /** SEND_TO stream (:136): write to a named output (parquet dir),
    * staged beside it and swapped in (`FsUtil.swapInto`), so a job that
    * fails mid-write leaves the previous output in place, unchanged. */
  def sendTo(path: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    graft.core.FsUtil.swapInto(target.getFileSystem(
      ds.sparkSession.sessionState.newHadoopConf()), target) { staging =>
      ds.write.parquet(staging.toString)
    }
  }
}

/** Keyed stream — carrier of WINDOW and JOIN, which Samza only defines
  * for keyed data (KV<K,V>). */
final case class KVStream[K, V](ds: Dataset[(K, V)]) {

  /** Stream-table join (MessageStream.java:216,
    * StreamTableJoinOperatorImpl): per-key lookup into a bounded table;
    * inner or left-outer exactly as the reference decides by the join
    * function returning null (:76-80). */
  def joinTable[W](table: Dataset[(K, W)], inner: Boolean = true)(
      implicit enc: Encoder[(K, V, Option[W])]): Dataset[(K, V, Option[W])] = {
    val joined = ds.toDF("k", "v")
      .join(table.toDF("k", "w"), Seq("k"), if (inner) "inner" else "left_outer")
    joined.select(col("k"), col("v"), col("w")).as[(K, V, Option[W])](enc)
  }

  /** Stream-stream TTL join (MessageStream.java:185,
    * PartialJoinOperatorImpl:84-86): each side keeps the LAST value per
    * key; emits on match. Bounded analog reduces both sides to
    * last-per-key then inner-joins — see graft.streaming.TtlJoin for
    * the stateful streaming form.
    *
    * "Last" is defined by the caller-supplied order extractors (event
    * time / offset), NOT by arrival order: `agg(last(...))` would
    * depend on partition scan order and silently change across
    * runs/AQE re-plans. Ties on the order value break on the value
    * struct itself (max_by over struct(order, value)) — which requires
    * the value type to be ORDERABLE under Spark (maps, and structs /
    * arrays containing maps, are not). For unorderable value types the
    * tiebreak falls back to the order value alone: still deterministic
    * whenever order values are unique per key (give each message a
    * distinct offset/timestamp, as Samza's per-partition offsets are),
    * but duplicate (key, order) rows with different unorderable values
    * pick an arbitrary winner. */
  def joinTtl[W](other: KVStream[K, W])(orderV: V => Long, orderW: W => Long)(
      implicit enc: Encoder[(K, V, W)], encV: Encoder[(K, Long, V)],
      encW: Encoder[(K, Long, W)]): Dataset[(K, V, W)] = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    def lastPerKey(df: org.apache.spark.sql.DataFrame, vc: String) = {
      val orderable = RowOrdering.isOrderable(df.schema(vc).dataType)
      val ord = if (orderable) struct(col("o"), col(vc)) else struct(col("o"))
      df.groupBy("k").agg(max_by(col(vc), ord).as(vc))
    }
    val l = lastPerKey(ds.map { case (k, v) => (k, orderV(v), v) }(encV)
      .toDF("k", "o", "v"), "v")
    val r = lastPerKey(other.ds.map { case (k, w) => (k, orderW(w), w) }(encW)
      .toDF("k", "o", "w"), "w")
    l.join(r, "k").select(col("k"), col("v"), col("w")).as[(K, V, W)](enc)
  }
}
