package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.CorpusProfile
import graft.sources.Tables

/** Incremental corpus profile: the merge must be EXACT (partials +
  * append bit-identical to a full recompute), the store record's
  * params must fail fast on mismatch, and read-derived scalars (vocab/hapax) must
  * be correct across batch boundaries — the reason the df TABLE is
  * stored instead of the scalars. */
class CorpusProfileSpec extends SparkSpec {

  private def statRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("build + append over split batches == full recompute") {
    val s = spark
    val docs = Tables.load(s, sf001, "documents")
    val dir = Files.createTempDirectory("graft_profile").toString + "/p"
    CorpusProfile.write(CorpusProfile.build(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "lang", "text"), dir)
    CorpusProfile.append(CorpusProfile.build(
      docs.filter(col("doc_id") % 3 === 1), "doc_id", "lang", "text"), dir)
    CorpusProfile.append(CorpusProfile.build(
      docs.filter(col("doc_id") % 3 === 2), "doc_id", "lang", "text"), dir)
    val merged = CorpusProfile.stats(
      CorpusProfile.read(s, dir, "lang", "text"))
    val full = CorpusProfile.stats(
      CorpusProfile.build(docs, "doc_id", "lang", "text"))
    assert(statRows(merged) == statRows(full))
  }

  test("hapax/vocab derive at read across batch boundaries") {
    val s = spark
    import s.implicits._
    // "x" appears once in EACH batch: hapax within each, NOT hapax
    // after the merge — exactly the case scalar merging would get
    // wrong and the stored df table gets right.
    val a = Seq((1L, "en", "x alpha")).toDF("doc_id", "lang", "text")
    val b = Seq((2L, "en", "x beta")).toDF("doc_id", "lang", "text")
    val dir = Files.createTempDirectory("graft_profile").toString + "/p"
    CorpusProfile.write(
      CorpusProfile.build(a, "doc_id", "lang", "text"), dir)
    CorpusProfile.append(
      CorpusProfile.build(b, "doc_id", "lang", "text"), dir)
    val st = CorpusProfile.stats(CorpusProfile.read(s, dir, "lang", "text"))
      .select("lang", "docs", "tokens", "vocab", "hapax")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // vocab = {x, alpha, beta}; hapax = {alpha, beta} (x has df 2)
    assert(st == Set(("en", 2L, 4L, 3L, 2L)))
  }

  test("params sidecar mismatch fails fast on append and read") {
    val s = spark
    val docs = Tables.load(s, sf001, "documents").limit(20)
    val dir = Files.createTempDirectory("graft_profile").toString + "/p"
    CorpusProfile.write(
      CorpusProfile.build(docs, "doc_id", "lang", "text"), dir)
    val batch = CorpusProfile.build(docs, "doc_id", "source", "text")
    val e1 = intercept[IllegalArgumentException] {
      CorpusProfile.append(batch, dir)
    }
    assert(e1.getMessage.contains("strataCol"))
    val e2 = intercept[IllegalArgumentException] {
      CorpusProfile.read(s, dir, "source", "text")
    }
    assert(e2.getMessage.contains("strataCol"))
  }

  test("streaming profile: per-batch appends equal the batch build; replays are no-ops") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val docs = Tables.load(s, sf001, "documents")
      .select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().toSeq
    val dir = Files.createTempDirectory("graft_profile").toString + "/p"
    val ckpt = Files.createTempDirectory("graft_profile_ckpt").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamJobs.profileStream(
        input.toDS().toDF("doc_id", "lang", "text"), dir, "doc_id",
        "lang", "text")
      .option("checkpointLocation", ckpt).start()
    try {
      docs.grouped(200).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = statRows(CorpusProfile.stats(
      CorpusProfile.read(s, dir, "lang", "text")))
    val full = statRows(CorpusProfile.stats(CorpusProfile.build(
      Tables.load(s, sf001, "documents"), "doc_id", "lang", "text")))
    assert(streamed == full)
    // at-least-once guard: re-applying an already-applied batch id is
    // a no-op and changes nothing
    val replay = CorpusProfile.build(
      Seq((999L, "en", "x y z")).toDF("doc_id", "lang", "text"),
      "doc_id", "lang", "text")
    assert(!CorpusProfile.appendOnce(replay, dir, batchId = 0L))
    assert(statRows(CorpusProfile.stats(
      CorpusProfile.read(s, dir, "lang", "text"))) == full)
  }

  test("compact collapses partials without changing stats") {
    val s = spark
    val docs = Tables.load(s, sf001, "documents")
    val dir = Files.createTempDirectory("graft_profile").toString + "/p"
    CorpusProfile.write(CorpusProfile.build(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "lang", "text"), dir)
    CorpusProfile.append(CorpusProfile.build(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "lang", "text"), dir)
    val before = statRows(CorpusProfile.stats(
      CorpusProfile.read(s, dir, "lang", "text")))
    CorpusProfile.compact(s, dir, "lang", "text")
    val compacted = CorpusProfile.read(s, dir, "lang", "text")
    // partials collapsed: one row per (stratum, token) and per stratum
    val dupTokens = compacted.tokens
      .groupBy("stratum", "token").count().filter(col("count") > 1).count()
    assert(dupTokens == 0)
    assert(compacted.strata.groupBy("stratum").count()
      .filter(col("count") > 1).count() == 0)
    assert(statRows(CorpusProfile.stats(compacted)) == before)
  }

  test("compact preserves the appendOnce replay watermark") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_profile").toString + "/p"
    def batch(id: Long, text: String) = CorpusProfile.build(
      Seq((id, "en", text)).toDF("doc_id", "lang", "text"),
      "doc_id", "lang", "text")
    assert(CorpusProfile.appendOnce(batch(1L, "a b"), dir, batchId = 0L))
    assert(CorpusProfile.appendOnce(batch(2L, "c d"), dir, batchId = 1L))
    val before = statRows(CorpusProfile.stats(
      CorpusProfile.read(s, dir, "lang", "text")))
    CorpusProfile.compact(s, dir, "lang", "text")
    // the watermark survived the compact: a foreachBatch replay of an
    // already-applied batch id (e.g. restart re-running its in-flight
    // batch) must STILL be a no-op — the compaction carries the
    // record's applied tags over
    assert(!CorpusProfile.appendOnce(batch(2L, "c d"), dir, batchId = 1L))
    assert(statRows(CorpusProfile.stats(
      CorpusProfile.read(s, dir, "lang", "text"))) == before)
    // a genuinely new batch still applies
    assert(CorpusProfile.appendOnce(batch(3L, "e f"), dir, batchId = 2L))
  }

  test("stats detects a half-applied append and names the torn strata") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_profile").toString + "/p"
    def batch(id: Long, lang: String, text: String) = CorpusProfile
      .build(Seq((id, lang, text)).toDF("doc_id", "lang", "text"),
        "doc_id", "lang", "text")
    CorpusProfile.write(batch(1L, "en", "a b c"), dir)
    // the store commits tokens and strata together, so a torn profile
    // is one assembled outside it: token partials without their strata
    // partials. "de" is a NEW stratum (tokens with no strata row at
    // all) and a second torn batch hits the existing "en" stratum
    // (token mass over the counted tokens); both must surface.
    val stored = CorpusProfile.read(s, dir, "lang", "text")
    val torn = stored.copy(tokens = stored.tokens
      .unionByName(batch(2L, "de", "x y").tokens)
      .unionByName(batch(3L, "en", "d e").tokens))
    val errBuf = new java.io.ByteArrayOutputStream()
    val origErr = System.err
    val rows = try {
      System.setErr(new java.io.PrintStream(errBuf, true))
      statRows(CorpusProfile.stats(torn))
    } finally System.setErr(origErr)
    val warning = errBuf.toString
    assert(warning.contains("INCONSISTENT"), warning.take(200))
    assert(warning.contains("en") && warning.contains("de"), warning)
    assert(warning.toLowerCase.contains("repair"), warning)
    // the returned summary still reflects committed strata only
    assert(rows.map(_.head) == Set("en"))

    // a CONSISTENT store (the normal case) warns nothing
    val dir2 = Files.createTempDirectory("graft_profile").toString + "/p"
    CorpusProfile.write(batch(1L, "en", "a b c"), dir2)
    CorpusProfile.append(batch(2L, "de", "x y"), dir2)
    val errBuf2 = new java.io.ByteArrayOutputStream()
    try {
      System.setErr(new java.io.PrintStream(errBuf2, true))
      statRows(CorpusProfile.stats(
        CorpusProfile.read(s, dir2, "lang", "text")))
    } finally System.setErr(origErr)
    assert(!errBuf2.toString.contains("INCONSISTENT"), errBuf2.toString)
  }
}
