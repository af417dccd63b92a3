package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Layout
import QHelp._

/** Data-layout passes: z-order clustered writes. The oracle contract
  * for a layout op is CONTENT IDENTITY — clustering may reorder rows
  * and re-split files but must not change a single value; the
  * driver's sorted-rows compare is exactly that check. The layout
  * BENEFIT (tight per-file min/max on every clustered column) is
  * asserted in LayoutSpec, where file boundaries are inspectable. */
object LayoutQueries extends QueryPack {

  override def queries: Map[String, Q] = Map(

    // Z-order lineitem on a numeric + a string column and read the
    // clustered copy back. The write runs eagerly at build (bounds
    // agg + range exchange + sorted sized files); the returned plan
    // scans ONLY the written layout, so the compare proves the
    // cluster pass lost or mutated nothing. Mixed column types on
    // purpose: l_partkey takes the linear min-max rank (range
    // pruning), l_returnflag the hash rank (equality pruning).
    "q_layout_zorder" -> Q(
      (s, d) => {
        val dir = scratchDir("zorder", d)
        val li = t(s, d, "lineitem").select(
          col("l_orderkey"), col("l_partkey"), col("l_returnflag"),
          col("l_quantity"))
        Layout.zorderWrite(li, dir,
          cols = Seq("l_partkey", "l_returnflag"),
          targetFileBytes = 4L << 20)
        s.read.parquet(dir)
      },
      Some("""SELECT l_orderkey, l_partkey, l_returnflag, l_quantity
             |FROM lineitem
             |""".stripMargin)),

    // small-file compaction (Layout.compact): write the table as 48
    // deliberately tiny files (the pathology every O(batch)-append
    // store accumulates), bin-pack them, and read the compacted dir
    // back — the layout-op oracle contract is CONTENT IDENTITY, and
    // the file-count/clustering invariants live in LayoutSpec where
    // file boundaries are inspectable.
    "q_layout_compact" -> Q(
      (s, d) => {
        val dir = scratchDir("compact", d)
        val li = t(s, d, "lineitem").select(
          col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        li.repartition(48).write
          .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
        Layout.compact(s, dir, targetFileBytes = 16L << 20)
        s.read.parquet(dir)
      },
      Some("""SELECT l_orderkey, l_partkey, l_quantity
             |FROM lineitem
             |""".stripMargin)),

    // Avro container-file round-trip (AvroDataFileHdfsWriter analog,
    // sources.AvroFiles): events → executor-side Avro data files →
    // distributed reload. Content identity including the
    // timestamp-micros logical type (ts) proves the format path under
    // the same oracle gate as every other operator — the reference's
    // primary HDFS output format, not just its schema bridge.
    "q_avro_roundtrip" -> Q(
      (s, d) => {
        val dir = scratchDir("avro", d)
        val ev = t(s, d, "events")
        graft.sources.AvroFiles.write(ev.repartition(8), dir)
        // ts surfaces as NTZ: the result parquet then holds naive
        // micros exactly like DuckDB's view of the source (the session
        // is UTC, so instant→wall-clock is the identity); a tz-aware
        // column would flap the comparator's dtype, not the values
        graft.sources.AvroFiles.read(s, dir)
          .select(col("event_id"),
            col("ts").cast("timestamp_ntz").as("ts"), col("user_id"),
            col("event_type"), col("value"), col("props"))
      },
      Some("""SELECT event_id, ts, user_id, event_type, value, props
             |FROM events
             |""".stripMargin))
  )
}
