package graft.tools

/** Idle-pair bar recorder for a SUBSET of registry queries — the
  * BASELINE.md bar discipline (back-to-back pair, per-query max,
  * bracketing CPU cal probes to certify the box was idle) without
  * paying a full 100-query Bench run per pass. Used for the sf10
  * scale-claim rows, where a full sweep would take an hour the box's
  * burst behavior would corrupt anyway. Usage:
  * {{{ runMain graft.tools.BarPair <sfDir> <name> [name...] }}}
  * Prints one line per pass: `pass=A {"q":sec,...} cal=<s>`, followed
  * by one `profile pass=A "q" {...}` line per query (the
  * [[graft.obs.QueryProfile]] breakdown of that timing), then a `bars`
  * line with the per-query max of the pair. */
object BarPair {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BarPair <sfDir> <name> [name...]")
    val sfDir = args(0)
    val names = args.drop(1).toSeq.sorted
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: $unknown")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession("graft-barpair",
      master = Some(s"local[$cpus]"), shufflePartitions = Some(cpus.toInt))

    // warm pass (JIT/classload) against the smallest data that exists:
    // SPARK_GRAFT_WARM_DIR if set, else sfDir itself — no machine-
    // specific path, and a failing warm-up is LOGGED (a silent no-op
    // would let pass A's bars absorb JIT noise on a box without the
    // warm dir)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", sfDir)
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, warmDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[barpair] warm-up $n on $warmDir failed: $e")
      }
    }
    spark.catalog.clearCache()

    def calOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 64L << 20, 1, cpus.toInt)
        .selectExpr("sum(id % 97)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // a FAILED query records -1, never a wall time: the time-to-throw
    // is not a bar, and publishing it (an OOM 0.5 s in would print
    // "0.50") poisons BenchBars — every later run reads 2x+ the bogus
    // bar, the ratio-ordered retry arm ranks it first, and the breach
    // line parades a phantom regression
    val prof = graft.obs.QueryProfile.install(spark)
    def pass(label: String): Map[String, Double] = {
      val cal = calOnce()
      val times = names.map { n =>
        val s = prof.row(n) {
          val t0 = System.nanoTime()
          val ok =
            try { graft.SparkEntry.queries(n)(spark, sfDir).count(); true }
            catch { case e: Throwable =>
              System.err.println(s"[barpair] $n FAILED: $e"); false }
          if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        }
        spark.catalog.clearCache()
        n -> (s, prof.json(n))
      }.toMap
      val cal2 = calOnce()
      println(s"pass=$label " + times.toSeq.sortBy(_._1)
        .map { case (n, (s, _)) => f""""$n":$s%.2f""" }
        .mkString("{", ",", "}") + f" cal=$cal%.2f cal2=$cal2%.2f")
      times.toSeq.sortBy(_._1).foreach { case (n, (_, p)) =>
        println(s"profile pass=$label ${graft.core.Json.quote(n)} $p")
      }
      times.map { case (n, (s, _)) => n -> s }
    }
    val a = pass("A")
    val b = pass("B")
    val (good, failed) =
      names.sorted.partition(n => a(n) >= 0 && b(n) >= 0)
    println("bars " + good
      .map(n => f""""$n":${math.max(a(n), b(n))}%.2f""")
      .mkString("{", ",", "}"))
    if (failed.nonEmpty)
      println("failed (no bar recorded): " + failed.mkString(", "))
    spark.stop()
  }
}
