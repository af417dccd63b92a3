package org.apache.spark.latbench

import org.apache.spark.SparkContext

/** The one Spark-private call the benchmark makes: wait until every
  * posted listener event (job, task and query progress) is delivered,
  * so a phase's counts are complete before they are read. */
object Bridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
