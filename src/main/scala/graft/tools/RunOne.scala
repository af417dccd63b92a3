package graft.tools

import java.nio.file.{Files, Paths}

/** Single-query slice of [[graft.Verify]] for iterating on one
  * registry entry without paying the full 100-query dump: runs the
  * named queries, writes each result parquet plus an oracle_sql.json
  * restricted to those names, so `scripts/check.py` compares exactly
  * the slice. Each query's [[graft.obs.QueryProfile]] breakdown goes
  * to stderr as one JSON line `{"query":..,"profile":{..}}`. Usage:
  * {{{ runMain graft.tools.RunOne <sfDir> <outDir> <name> [name...] }}}
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: RunOne <sfDir> <outDir> <queryName> [queryName...]")
    val sfDir = args(0); val outDir = args(1)
    val names = args.drop(2).toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: $unknown")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.core.GraftSession("graft-runone",
      master = Some(s"local[$cpus]"), shufflePartitions = Some(cpus.toInt))
    new java.io.File(outDir).mkdirs()
    def q(s: String): String = graft.core.Json.quote(s)
    val json = names.flatMap(n =>
        graft.SparkEntry.oracleSql.get(n).map(sql => s"${q(n)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    graft.sources.Tables.registerAll(spark, sfDir)
    val prof = graft.obs.QueryProfile.install(spark)
    names.foreach { name =>
      val t0 = System.nanoTime()
      prof.row(name) {
        graft.SparkEntry.queries(name)(spark, sfDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      System.err.println(
        f"[runone] $name ok (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      System.err.println(s"""{"query":${q(name)},"profile":${prof.json(name)}}""")
    }
    spark.stop()
  }
}
