package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal accessor for `Dataset.ofRows`, which is private[sql]: graft
  * rewrites analyzed plans (remote-table lookup joins) and needs to
  * wrap the result back into a DataFrame. Lives under
  * org.apache.spark.sql.* solely for package visibility — the standard
  * pattern for Spark extensions that manipulate plans directly. */
object PlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The latest micro-batch's QueryExecution of a started streaming
    * query (an IncrementalExecution: state-store operators, the
    * stream-side exchanges) — `StreamingQueryWrapper.streamingQuery`
    * and `StreamExecution.lastExecution` are private[sql], so graft's
    * streaming ScaleLint path reaches them through this bridge. None
    * before the first batch executes or for a non-classic query. */
  def lastStreamingExecution(
      q: org.apache.spark.sql.streaming.StreamingQuery)
      : Option[org.apache.spark.sql.execution.QueryExecution] = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
      Option(w.streamingQuery.lastExecution)
    case _ => None
  }

  /** `DataSourceStrategy.translateFilter` is protected[sql]; graft's
    * ScaleLint runs each scan's dataFilters through the SAME translator
    * the scan used, to attribute unpushed predicates per-scan. */
  def translateFilter(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** Block until every event posted to the listener bus so far has
    * reached every listener (`SparkContext.listenerBus` is
    * private[spark]); how a listener's reader waits for the
    * asynchronous bus instead of sleeping. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
