package graft.tools

import org.apache.spark.sql.functions._

/** Phase decomposition for the DSIR stored-model path: how much of
  * q_text_dsir_stored's wall-clock is the ONE-TIME store build
  * (train + sized write of both models) vs the RECURRING weighting
  * run (read both stored models + importanceBits over the corpus) —
  * the amortization argument behind the deployment shape
  * (`LmScore.importanceBits` scaladoc): the whole-pool source model
  * trains once per pool lifetime, every later weighting run pays only
  * the stored-dim joins. Usage:
  * {{{ runMain graft.tools.ProfileDsir [sfDir] }}}
  */
object ProfileDsir {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/repo/benchdata/sf10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession("graft-profile-dsir",
      master = Some(s"local[$cpus]"), shufflePartitions = Some(cpus.toInt))
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val root = graft.core.FsUtil.deleteOnExit(
      s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_profile_dsir_p${ProcessHandle.current().pid()}")
    def timed(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[profile-dsir] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // warm the file/footer caches so the phases compare compute
    docs.count()
    timed("build stores (train+write both models, once per pool)") {
      graft.operators.LmScore.writeModel(
        docs.filter(col("lang") === "en"), "text", s"$root/target")
      graft.operators.LmScore.writeModel(docs, "text", s"$root/source")
    }
    (1 to 2).foreach { i =>
      timed(s"weighting run $i (read stored models + importanceBits)") {
        val t = graft.operators.LmScore.readModel(spark, s"$root/target")
        val s = graft.operators.LmScore.readModel(spark, s"$root/source")
        graft.operators.LmScore.importanceBits(t, s, docs,
          "doc_id", "text").count()
        graft.operators.LmScore.releaseDsirCache(t, s)
      }
      spark.catalog.clearCache()
    }

    // the in-query comparison arm: fresh two-model train + weighting
    timed("in-query arm (train both models fresh + importanceBits)") {
      val t = graft.operators.LmScore.train(
        docs.filter(col("lang") === "en"), "text")
      val s = graft.operators.LmScore.train(docs, "text")
      graft.operators.LmScore.importanceBits(t, s, docs,
        "doc_id", "text").count()
      graft.operators.LmScore.releaseDsirCache(t, s)
    }
    spark.stop()
  }
}
