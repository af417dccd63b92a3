package graft.tools

/** Dev tool: box-drift-immune A/B of a system-property toggle — runs
  * the named registry queries under each property value ALTERNATELY,
  * several reps, all in one JVM, and prints per-(query, value) min and
  * median. Cross-JVM pairs on this box swing ±30% with its burst
  * behavior; interleaving inside one JVM pins both arms to the same
  * drift. Each `[ab]` line carries that run's
  * [[graft.obs.QueryProfile]] breakdown. Usage:
  * {{{ runMain graft.tools.AbInterleaved <sfDir> <reps> <prop> \
  *     <valueA> <valueB> <name> [name...] }}}  */
object AbInterleaved {
  def main(args: Array[String]): Unit = {
    require(args.length >= 6,
      "usage: AbInterleaved <sfDir> <reps> <prop> <vA> <vB> <q> [q...]")
    val sfDir = args(0)
    val reps = args(1).toInt
    val prop = args(2)
    val values = Seq(args(3), args(4))
    val names = args.drop(5).toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: $unknown")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession("graft-ab",
      master = Some(s"local[$cpus]"), shufflePartitions = Some(cpus.toInt))

    // warm pass on SPARK_GRAFT_WARM_DIR if set, else sfDir (BarPair's
    // rule: no machine-specific path)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", sfDir)
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, warmDir).count()
      catch { case e: Throwable => System.err.println(s"[warm] $n: $e") }
    }
    spark.catalog.clearCache()
    graft.streaming.ModelCache.clear()

    val t = scala.collection.mutable.Map
      .empty[(String, String), Vector[Double]].withDefaultValue(Vector())
    val prof = graft.obs.QueryProfile.install(spark)
    for (r <- 1 to reps; v <- values; n <- names) {
      sys.props(prop) = v
      val sec = prof.row(n) {
        val t0 = System.nanoTime()
        try graft.SparkEntry.queries(n)(spark, sfDir).count()
        catch { case e: Throwable => System.err.println(s"[run] $n: $e") }
        (System.nanoTime() - t0) / 1e9
      }
      t((n, v)) = t((n, v)) :+ sec
      spark.catalog.clearCache()
      graft.streaming.ModelCache.clear()
      println(f"[ab] rep=$r $prop=$v $n ${sec}%.2f s " + prof.json(n))
    }
    names.foreach { n =>
      values.foreach { v =>
        val xs = t((n, v)).sorted
        if (xs.nonEmpty)
          println(f"[ab-summary] $n $prop=$v min=${xs.head}%.2f " +
            f"median=${xs(xs.size / 2)}%.2f n=${xs.size}")
      }
    }
    spark.stop()
  }
}
