package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** Frames whose rows are already on the driver. A frame is driver-local
  * when its optimized plan is a `LocalRelation`: a `toDF` /
  * `createDataFrame` input, and projections or filters over one, which
  * the optimizer evaluates into the relation. Reading such a frame's
  * rows runs no job and evaluates no upstream, so an operator may turn
  * them into a literal predicate for free. A frame can also carry what
  * a bounded read of it already learned, whether it has rows. */
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

  /** Whether a frame has rows, as a bounded read that already ran
    * learned it; set by [[known]], read by [[isEmpty]]. */
  private val Empty = TreeNodeTag[Boolean]("graft.localrows.empty")

  /** `df`, marked with whether it has rows, so [[isEmpty]] answers from
    * the mark. Only the frame returned carries it, not frames derived
    * from it. */
  def known(df: DataFrame, empty: Boolean): DataFrame = {
    df.queryExecution.logical.setTagValue(Empty, empty)
    df
  }

  /** Whether `df` has no rows: the [[known]] mark when it has one, else
    * `df.isEmpty` (no job for a driver-local frame). Reading the mark
    * matters for a widened stream batch, where `limit(1)` does not push
    * through the round-robin exchange and `isEmpty` would shuffle the
    * whole batch to find one row. */
  def isEmpty(df: DataFrame): Boolean =
    df.queryExecution.logical.getTagValue(Empty).getOrElse(df.isEmpty)
}
