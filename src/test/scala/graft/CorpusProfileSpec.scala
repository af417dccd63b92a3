package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.CorpusProfile
import graft.sources.Tables
import graft.store.Store

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
    Seq(1, 2).foreach { r =>
      CorpusProfile.ingestBatch(docs.filter(col("doc_id") % 3 === r), dir,
        "doc_id", "lang", "text", Store.freshTag())
    }
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
    CorpusProfile.ingestBatch(b, dir, "doc_id", "lang", "text",
      Store.freshTag())
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
    val e1 = intercept[IllegalArgumentException] {
      CorpusProfile.ingestBatch(docs, dir, "doc_id", "source", "text",
        Store.freshTag())
    }
    assert(e1.getMessage.contains("strataCol"))
    val e2 = intercept[IllegalArgumentException] {
      CorpusProfile.read(s, dir, "source", "text")
    }
    assert(e2.getMessage.contains("strataCol"))
  }

  /** Streams `batches` into the profile at `dir` through
    * profileIngestStream, one micro-batch each, from a fresh
    * checkpoint under `runId`. */
  private def ingestRun(dir: String, runId: String,
      batches: Seq[Seq[(Long, String, String)]]): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val ckpt = Files.createTempDirectory("graft_profile_ckpt").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamJobs.profileIngestStream(
        input.toDS().toDF("doc_id", "lang", "text"), dir, "doc_id",
        "lang", "text", runId)
      .option("checkpointLocation", ckpt).start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
  }

  test("streaming profile: per-batch appends equal the batch build; replays are no-ops") {
    val s = spark
    import s.implicits._
    val all = Tables.load(s, sf001, "documents")
    val docs = all.select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().toSeq
    val dir = Files.createTempDirectory("graft_profile").toString + "/p"
    val (seed, rest) = docs.splitAt(200)
    CorpusProfile.write(CorpusProfile.build(
      seed.toDF("doc_id", "lang", "text"), "doc_id", "lang", "text"), dir)
    ingestRun(dir, "r1", rest.grouped(200).toSeq)
    val full = statRows(CorpusProfile.stats(CorpusProfile.build(
      all, "doc_id", "lang", "text")))
    assert(statRows(CorpusProfile.stats(
      CorpusProfile.read(s, dir, "lang", "text"))) == full)
    // at-least-once guard: re-applying a committed batch's tag is a
    // no-op and changes nothing
    CorpusProfile.ingestBatch(
      Seq((999L, "en", "x y z")).toDF("doc_id", "lang", "text"), dir,
      "doc_id", "lang", "text", "r1-0")
    assert(statRows(CorpusProfile.stats(
      CorpusProfile.read(s, dir, "lang", "text"))) == full)
  }

  test("two stream runs with fresh checkpoints and runIds both count batch 0") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_profile").toString + "/p"
    val seed = Seq((1L, "en", "a b"))
    val (runA, runB) = (Seq((2L, "en", "c d")), Seq((3L, "de", "e f g")))
    CorpusProfile.write(CorpusProfile.build(
      seed.toDF("doc_id", "lang", "text"), "doc_id", "lang", "text"), dir)
    // each run restarts its batch ids at 0; its runId keeps its batch 0
    // apart from the other run's
    ingestRun(dir, "runA", Seq(runA))
    ingestRun(dir, "runB", Seq(runB))
    assert(storeRecord(dir).applied.keySet == Set("runA-0", "runB-0"))
    assert(statRows(CorpusProfile.stats(
        CorpusProfile.read(s, dir, "lang", "text"))) ==
      statRows(CorpusProfile.stats(CorpusProfile.build(
        (seed ++ runA ++ runB).toDF("doc_id", "lang", "text"), "doc_id",
        "lang", "text"))))
  }

  test("compact collapses partials without changing stats") {
    val s = spark
    val docs = Tables.load(s, sf001, "documents")
    val dir = Files.createTempDirectory("graft_profile").toString + "/p"
    CorpusProfile.write(CorpusProfile.build(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "lang", "text"), dir)
    CorpusProfile.ingestBatch(docs.filter(col("doc_id") % 2 === 1), dir,
      "doc_id", "lang", "text", Store.freshTag())
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

  test("compact carries the applied tags over: a replay after it is a no-op") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_profile").toString + "/p"
    def rows(id: Long, text: String) =
      Seq((id, "en", text)).toDF("doc_id", "lang", "text")
    def ingest(id: Long, text: String, tag: String): Unit =
      CorpusProfile.ingestBatch(rows(id, text), dir, "doc_id", "lang",
        "text", tag)
    CorpusProfile.write(CorpusProfile.build(rows(0L, "z"), "doc_id", "lang",
      "text"), dir)
    ingest(1L, "a b", "r-0")
    ingest(2L, "c d", "r-1")
    val before = statRows(CorpusProfile.stats(
      CorpusProfile.read(s, dir, "lang", "text")))
    CorpusProfile.compact(s, dir, "lang", "text")
    // the tags survived the compact: a foreachBatch replay of an
    // already-applied batch (e.g. restart re-running its in-flight
    // batch) must STILL be a no-op
    assert(storeRecord(dir).applied.keySet == Set("r-0", "r-1"))
    ingest(2L, "c d", "r-1")
    assert(statRows(CorpusProfile.stats(
      CorpusProfile.read(s, dir, "lang", "text"))) == before)
    // a genuinely new batch still applies
    ingest(3L, "e f", "r-2")
    assert(statRows(CorpusProfile.stats(
      CorpusProfile.read(s, dir, "lang", "text"))) != before)
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
    CorpusProfile.ingestBatch(
      Seq((2L, "de", "x y")).toDF("doc_id", "lang", "text"), dir2,
      "doc_id", "lang", "text", Store.freshTag())
    val errBuf2 = new java.io.ByteArrayOutputStream()
    try {
      System.setErr(new java.io.PrintStream(errBuf2, true))
      statRows(CorpusProfile.stats(
        CorpusProfile.read(s, dir2, "lang", "text")))
    } finally System.setErr(origErr)
    assert(!errBuf2.toString.contains("INCONSISTENT"), errBuf2.toString)
  }
}
