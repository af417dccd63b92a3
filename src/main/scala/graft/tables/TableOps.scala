package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.Store

/** Table write-side operators: upsert, delete-on-null (tombstones) and
  * partial update with default-on-missing — the sendTo(table) family
  * (SendToTableOperatorImpl.java, SendToTableWithUpdateOperatorImpl.java,
  * UpdateOptions.java).
  *
  * Materialization is merge-into-parquet per batch (foreachBatch in
  * streaming). The merge itself is union + bounded-heap latest-row
  * aggregation, so it shuffles once on the key with map-side partial
  * aggregation and never sorts. `__op__ = DELETE` maps to null-value
  * tombstones exactly like the SQL sink
  * (QueryTranslator.sendToOutputStream:145-150).
  */
object TableOps {

  /** Upsert semantics: rows in `updates` win over `base` per key;
    * within `updates`, `seqCol` breaks ties (highest wins — arrival
    * order analog). Null `valueCols` markers are honored by
    * [[applyTombstones]].
    *
    * Winner selection is the bounded-heap latest-row aggregate
    * ([[graft.operators.Latest]]), not a row_number window: one
    * hash-aggregate pass with map-side partials instead of a full
    * per-key shuffle+sort — the shape that holds on a 100 TB table. */
  def upsert(base: DataFrame, updates: DataFrame, keyCols: Seq[String],
      seqCol: String): DataFrame = {
    val tagged = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    val valueCols = base.columns.filterNot(keyCols.contains).toSeq
    graft.operators.Latest.latestBy(tagged, keyCols,
      Seq(col("__src"), col(seqCol)), valueCols)
      .select(base.columns.map(col).toIndexedSeq: _*)
  }

  /** Delete-on-tombstone: a row whose `tombstoneCol` is true is a
    * deletion marker (null-value message → delete,
    * SendToTableOperatorImpl: null value = delete). */
  def applyTombstones(table: DataFrame, tombstoneCol: String): DataFrame =
    table.filter(!coalesce(col(tombstoneCol), lit(false))).drop(tombstoneCol)

  /** Partial update with defaults (UpdateOptions.UPDATE_WITH_DEFAULTS):
    * apply per-column updates where present; when the key is missing
    * from the table, insert `defaults` overlaid with the update. */
  def partialUpdate(base: DataFrame, updates: DataFrame,
      keyCols: Seq[String], defaults: Map[String, Any]): DataFrame = {
    val valueCols = base.columns.filterNot(keyCols.contains)
    val upd = updates.select(
      keyCols.map(col) ++
        valueCols.map(c =>
          (if (updates.columns.contains(c)) col(c) else lit(null))
            .as(s"__u_$c")): _*)
    base.join(upd, keyCols, "full_outer")
      .select(keyCols.map(col) ++ valueCols.map { c =>
        coalesce(col(s"__u_$c"), col(c),
          lit(defaults.getOrElse(c, null))).as(c)
      }: _*)
  }

  /** Store kind of an [[upsertSink]] table. */
  val UpsertKind = "upsert-table"

  /** Streaming sink: maintain a parquet-backed upsert table from a
    * streaming DataFrame via foreachBatch — the sendTo(table) terminal.
    *
    * The table is a [[graft.store.Store]] whose one table,
    * `rows.parquet`, is replaced by every batch: the merge of the
    * committed rows and the batch lands beside the old files and
    * commits with the record, so a crash leaves the previous table
    * whole, and a committed file that cannot be read fails the batch
    * rather than passing for "no table yet". No record means the first
    * batch; `path` may then hold only what a killed first batch left
    * (the `rows.parquet` dir and hidden staging entries), anything else
    * is refused rather than swept away by the write. The batch's tag (the
    * streaming query id, which the checkpoint keeps across restarts,
    * plus the batch id) enters the record's applied tags, so a
    * replayed batch is a no-op. */
  def upsertSink(spark: SparkSession, path: String, keyCols: Seq[String],
      seqCol: String)(batch: DataFrame, batchId: Long): Unit = {
    val query = Option(spark.sparkContext.getLocalProperty(
      "sql.streaming.queryId"))
    val tag = query.fold("")(_ + "-") + s"batch-$batchId"
    val rec = Store.read(spark, path)
    if (rec.isEmpty) {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && fs.listStatus(p).map(_.getPath.getName)
          .exists(n => n != "rows.parquet" && !n.startsWith(".")))
        throw new java.io.IOException(
          s"$path is not empty but holds no upsert table record")
    }
    if (!rec.exists(_.applied.contains(tag))) {
      val merged = rec.fold(batch)(r => upsert(
        Store.table(spark, path, r, "rows.parquet"), batch, keyCols, seqCol))
      Store.write(spark, path, UpsertKind, Map.empty,
        Map(tag -> Map.empty)) { st => st.plain("rows.parquet", merged) }
    }
  }

  /** The committed rows of an [[upsertSink]] table. */
  def readUpsertTable(spark: SparkSession, path: String): DataFrame =
    Store.table(spark, path, Store.require(spark, path, UpsertKind),
      "rows.parquet")
}
