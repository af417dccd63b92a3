package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** One verifiable query: a Spark implementation plus (where
  * SQL-expressible) an equivalent DuckDB oracle.
  *
  * The oracle does NOT have to mirror the implementation — it only has
  * to produce the same result set with the same column names. Column
  * names are aligned on both sides because the driver's comparator
  * sorts columns by name before hashing values.
  */
final case class Q(
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    note: String = "")

trait QueryPack {
  def queries: Map[String, Q]
}

/** Shared helpers for deterministic cross-engine comparison. */
object QHelp {
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Query `name`'s scratch dir for scale dir `dir`, one per JVM and
    * scale dir (`<java.io.tmpdir>/graft_<name>_p<pid>_<hex hash>`),
    * deleted at JVM exit (`FsUtil.deleteOnExit`). */
  def scratchDir(name: String, dir: String): String =
    graft.core.FsUtil.deleteOnExit(
      s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_${name}_p${ProcessHandle.current().pid()}_" +
        java.lang.Integer.toHexString(dir.hashCode))

  /** Scan-width fan-out guard for CPU-heavy narrow passes (round-19,
    * guide §2.6): a shingle/sign/codec pass over a table whose scan is
    * ONE split (gate scale, and sf10 too — a 58 MB file is one split
    * at the 128 MB default) runs single-task however many cores the
    * session has, because everything up to the first exchange inherits
    * the scan's partitioning. One round-robin exchange of the narrow
    * source rows buys stage width; skipped once the scan itself is
    * wide (the production regime, where the exchange would be waste).
    * Pass a RAW scan frame — `.rdd` on an exchange-free plan builds
    * lineage without running anything (the AQE-eager hazard the
    * round's bm25 widen experiment documented). */
  def widenScan(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= p) df else df.repartition(p)
  }

  /** Order-independent, exact double aggregation: per-row cast to
    * decimal(30,6) (deterministic double→decimal rounding), exact
    * decimal sum, round to `scale`, surface as double. Both engines
    * produce bit-identical results regardless of row order — a plain
    * SUM(double) is order-dependent and would flap under different
    * partitionings. */
  def sumDec(c: Column, scale: Int = 2): Column =
    round(sum(c.cast(DecimalType(30, 6))), scale).cast("double")

  /** DuckDB-side counterpart of [[sumDec]]. */
  def oSumDec(e: String, alias: String, scale: Int = 2): String =
    s"CAST(ROUND(SUM(CAST($e AS DECIMAL(30,6))),$scale) AS DOUBLE) AS $alias"
}
