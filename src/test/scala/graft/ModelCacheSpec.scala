package graft

import org.apache.spark.sql.functions._

import graft.streaming.ModelCache

/** The generation-keyed model cache behind the serve streams
  * (round-17 finding #3): per-batch store reads must collapse to one
  * record read, WITHOUT weakening the freshness contract — a
  * mid-stream append still takes effect from the next micro-batch,
  * because the append raises the store's generation. */
class ModelCacheSpec extends SparkSpec {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-mc-$name").toString

  test("cache mechanics: same stamp = one load; a moved control file reloads and releases the stale entry; invalidate releases") {
    ModelCache.clear()
    val s = spark
    val dir = tmp("mech") + "/store"
    graft.store.Store.write(s, dir, "test", Map("v" -> 1L)) { _ => () }
    var loads = 0
    var releases = 0
    def get(): String = ModelCache.getOrLoad(s, dir) {
      loads += 1; s"model-$loads"
    } { _ => releases += 1 }
    assert(get() === "model-1" && get() === "model-1")
    assert(loads === 1 && releases === 0)
    // the key is the store's generation: a rewrite raises it and
    // forces a reload that first releases the stale entry
    graft.store.Store.write(s, dir, "test", Map("v" -> 2L)) { _ => () }
    assert(get() === "model-2")
    assert(loads === 2 && releases === 1)
    // and so does an append's commit
    import s.implicits._
    graft.store.Store.append(s, dir, storeRecord(dir), "t0",
      Seq("t.parquet" -> Seq(1L).toDF("v")))
    assert(get() === "model-3")
    assert(loads === 3 && releases === 2)
    // a caller whose loaded value bakes in per-stream parameters
    // keys the entry by (dir + params): two keys on one dir are
    // INDEPENDENT entries (the embedDeconLookupStream contract — two
    // streams probing one set at different thresholds must not share
    // the first stream's probe closure)
    var l2 = 0
    var rel2 = 0
    def getKeyed(k: String): String =
      ModelCache.getOrLoad(s, dir, key = k) {
        l2 += 1; s"$k-model-$l2"
      } { _ => rel2 += 1 }
    assert(getKeyed(s"$dir#0.3") === s"$dir#0.3-model-1")
    assert(getKeyed(s"$dir#0.8") === s"$dir#0.8-model-2")
    assert(getKeyed(s"$dir#0.3") === s"$dir#0.3-model-1") // still cached
    assert(l2 === 2)
    // invalidate(dir) retires the STORE: it must release the plain
    // entry AND every composite-keyed (dir#...) entry built over it
    // (round-18 ADVICE — before, the keyed probe closures lingered
    // forever despite the scaladoc's bound-the-map-via-invalidate)
    ModelCache.invalidate(dir)
    assert(releases === 3)
    assert(rel2 === 2, "composite-keyed entries survived invalidate(dir)")
    assert(getKeyed(s"$dir#0.3") === s"$dir#0.3-model-3",
      "a retired key should reload fresh")
    ModelCache.invalidate(dir)
    assert(rel2 === 3)
  }

  test("retiring a decon-set dir via invalidate(dir) releases the serve's composite-keyed probe entry") {
    ModelCache.clear()
    val s = spark
    import s.implicits._
    val root = tmp("retire")
    val setDir = s"$root/set"
    val bench = Seq((0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    graft.operators.Similarity.writeSemanticDeconSetBanded(
      bench, "embedding", setDir, dim = 4, bands = 2, rowsPerBand = 2)
    implicit val sqlCtx = s.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamJobs.embedDeconLookupStream(
        in.toDS().toDF("vec_id", "embedding"), setDir, s"$root/out",
        "vec_id", "embedding", threshold = 0.5)
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      val l0 = ModelCache.loads
      in.addData(Seq((10L, Array(1f, 0f, 0f, 0f)))); q.processAllAvailable()
      assert(ModelCache.loads === l0 + 1)
      in.addData(Seq((11L, Array(0f, 1f, 0f, 0f)))); q.processAllAvailable()
      assert(ModelCache.loads === l0 + 1,
        "unchanged set re-read — the probe closure should be cached")
      // retire the set by its DIR alone — the retiring caller doesn't
      // know the stream's composite key ($setDir#id#vec#threshold);
      // prefix invalidation must reach it (round-18 ADVICE)
      ModelCache.invalidate(setDir)
      in.addData(Seq((12L, Array(1f, 0f, 0f, 0f)))); q.processAllAvailable()
      assert(ModelCache.loads === l0 + 2,
        "retired dir's composite-keyed probe entry survived invalidate(dir)")
      // the probes themselves stayed correct across the retire
      assert(s.read.parquet(s"$root/out").filter($"cos" >= 0.5).count() === 3)
    } finally q.stop()
  }

  test("lm serve: unchanged store is read once across batches; a mid-stream append takes effect next batch") {
    ModelCache.clear()
    val s = spark
    import s.implicits._
    val root = tmp("lm")
    val modelDir = s"$root/model"
    val outDir = s"$root/out"
    val ref1 = Seq((1L, "alpha beta alpha gamma"))
      .toDF("doc_id", "text")
    graft.operators.LmScore.writeModel(ref1, "text", modelDir)
    implicit val sqlCtx = s.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = graft.streaming.StreamJobs.lmLookupStream(
        in.toDS().toDF("doc_id", "text"), modelDir, outDir,
        "doc_id", "text")
      .option("checkpointLocation", s"$root/ckpt").start()
    def bitsOf(id: Long): Long =
      s.read.parquet(outDir).filter($"doc_id" === id)
        .select("bits").as[Long].head()
    try {
      val loads0 = ModelCache.loads
      in.addData(Seq((10L, "alpha beta gamma"))); q.processAllAvailable()
      assert(ModelCache.loads === loads0 + 1)
      // same store, next batch: generation unchanged → NO reload, and the
      // identical text scores identically (same model)
      in.addData(Seq((11L, "alpha beta gamma"))); q.processAllAvailable()
      assert(ModelCache.loads === loads0 + 1,
        "unchanged store re-read — the fixed cost the cache exists to drop")
      assert(bitsOf(11L) === bitsOf(10L))
      // mid-stream append: new reference mass raises the generation; the
      // NEXT batch must score against the grown model
      // enough repeated (alpha, beta) mass that the integer
      // bit-length cost of the scored bigram itself moves — the
      // backoff formula quantizes to bin lengths, so a token-scale
      // append can reload correctly yet score identically
      graft.operators.LmScore.appendModel(
        Seq((2L, ("alpha beta " * 40) + "delta epsilon"))
          .toDF("doc_id", "text"),
        "text", modelDir, tag = "mc-append")
      in.addData(Seq((12L, "alpha beta gamma"))); q.processAllAvailable()
      assert(ModelCache.loads === loads0 + 2,
        "append did not raise the generation")
      assert(bitsOf(12L) !== bitsOf(10L),
        "post-append batch scored against the stale model")
      // and the post-append score equals a FRESH read's score — the
      // cache changed when, not what
      val fresh = graft.operators.LmScore.score(
          graft.operators.LmScore.readModel(s, modelDir),
          Seq((12L, "alpha beta gamma")).toDF("doc_id", "text"),
          "doc_id", "text")
        .select("bits").as[Long].head()
      assert(bitsOf(12L) === fresh)
    } finally q.stop()
  }

  test("ivf serve handle: quiet store loads once; tagged ingest AND plain append both move the extraFiles stamp") {
    ModelCache.clear()
    val s = spark
    import s.implicits._
    val dir = tmp("ivfserve") + "/idx"
    val emb = graft.sources.Tables.load(s, sf0001, "embeddings")
    graft.operators.Similarity
      .ivfIndex(emb, "vec_id", "embedding", nlist = 4).write(dir)
    var loads = 0
    def handle(): graft.operators.Similarity.IvfReady =
      ModelCache.getOrLoad(s, dir, key = s"$dir#ivf") {
        loads += 1
        graft.operators.Similarity.ivfReady(
          graft.operators.Similarity.readIvfIndex(s, dir, "vec_id",
            "embedding"))
      } (_ => ())
    handle(); handle()
    assert(loads === 1, "quiet store must hit, not reload")
    // both append forms commit through the store record, raising its
    // generation
    val batch1 = emb.limit(3)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    graft.operators.Similarity.ivfIngestBatch(handle(), batch1, dir,
      tag = "mc-ivf-0")
    handle()
    assert(loads === 2, "tagged ingest did not raise the generation")
    val batch2 = emb.limit(3)
      .select(($"vec_id" + 2000000L).as("vec_id"), $"embedding")
    graft.operators.Similarity.ivfIngestBatch(handle(), batch2, dir,
      graft.store.Store.freshTag())
    handle()
    assert(loads === 3, "plain append did not raise the generation")
    // and the reloaded handle actually SEES the appended rows
    assert(handle().index.assigned
      .filter($"nn_id" >= 1000000L).count() === 6)
    ModelCache.invalidate(dir)
  }

  test("lm serve: both batch bands equal the batch scorer; a replay leaves one copy") {
    ModelCache.clear()
    val s = spark
    import s.implicits._
    val docs = graft.sources.Tables.load(s, sf0001, "documents")
    val root = tmp("lmbands")
    val modelDir = s"$root/model"
    graft.operators.LmScore.writeModel(docs.filter($"doc_id" % 2 === 0),
      "text", modelDir)
    // a 40-doc batch is collected to the driver, a 300-doc batch goes
    // through widen
    val rows = docs.orderBy("doc_id").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val (small, large) = (rows.take(40), rows.slice(40, 340))
    assert(large.size === 300)
    val out = serveWithReplay(root, ("doc_id", "text"), small, large) {
      (in, o) => graft.streaming.StreamJobs.lmLookupStream(in, modelDir, o,
        "doc_id", "text")
    }
    val model = graft.operators.LmScore.readModel(s, modelDir)
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    Seq(0 -> small, 1 -> large).foreach { case (id, batch) =>
      val want = graft.operators.LmScore.score(model,
        batch.toDF("doc_id", "text"), "doc_id", "text")
      val got = s.read.parquet(s"$out/batch_id=$id")
        .select(want.columns.map(col): _*)
      assert(sorted(got) === sorted(want), s"batch $id")
    }
    graft.operators.LmScore.releaseBackoffCache(model)
    ModelCache.invalidate(modelDir)
  }
}
