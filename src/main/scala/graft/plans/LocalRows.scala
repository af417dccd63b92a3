package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** Frames whose rows are already on the driver. A frame is driver-local
  * when its optimized plan is a `LocalRelation`: a `toDF` /
  * `createDataFrame` input, and projections or filters over one, which
  * the optimizer evaluates into the relation. Reading such a frame's
  * rows runs no job and evaluates no upstream, so an operator may turn
  * them into a literal predicate for free. */
object LocalRows {

  /** The distinct elements of `arrays`' first (array) column when the
    * frame is driver-local and holds at most `max` of them; `None`
    * for every other frame (table scans, a stream's micro-batch,
    * anything behind an exchange) or when there are more. */
  def distinctElems(arrays: DataFrame, max: Int): Option[Seq[Any]] =
    arrays.queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        val toRow = CatalystTypeConverters.createToScalaConverter(l.schema)
        val elems = l.data.iterator
          .flatMap(r => Option(toRow(r).asInstanceOf[Row].getSeq[Any](0)))
          .flatten.distinct.take(max + 1).toSeq
        if (elems.length <= max) Some(elems) else None
      case _ => None
    }

  /** `df` as a driver-local frame when it has at most `maxRows` rows:
    * one job reads at most `maxRows + 1` of them, and every later use
    * of the returned frame reads the driver copy instead of
    * re-evaluating `df`. A larger `df` is returned as it is. */
  def collectSmall(df: DataFrame, maxRows: Int): DataFrame = {
    val rows = df.limit(maxRows + 1).collect()
    if (rows.length > maxRows) df
    else df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }
}
