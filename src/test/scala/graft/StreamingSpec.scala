package graft

import org.apache.spark.sql.functions._

import graft.queries.Registry
import graft.streaming.StreamJobs

/** End-to-end Structured Streaming: readStream → watermark window agg →
  * memory sink, drained with AvailableNow (the bounded-input EOS path).
  * The streaming result must agree with the batch inventory query on
  * every window the watermark closed. */
class StreamingSpec extends SparkSpec {

  test("streaming tumbling counts match the batch query on closed windows") {
    val events = StreamJobs.eventsStream(spark, sf0001)
    val streamed = StreamJobs
      .drainToTable(spark, StreamJobs.tumblingCounts(events, "5 minutes"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet

    val batch = Registry.all("q_tumbling_count_5m").run(spark, sf0001)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet

    // append mode: every closed window must match the batch result
    // exactly; only windows overlapping the final watermark may be
    // withheld (Samza's EOS flush would emit those too — documented
    // divergence in StreamJobs.drainToTable)
    assert(streamed.subsetOf(batch))
    val maxStart = batch.map(_._1.getTime).max
    val closed = batch.filterNot(_._1.getTime >= maxStart)
    assert(closed.subsetOf(streamed))
  }

  test("streaming decontamination drops exactly the batch bloom-hit set at ingest") {
    val s = spark
    import s.implicits._
    import graft.operators.Curation
    val docs = graft.sources.Tables.load(s, sf001, "documents")
    val bench = docs.filter($"source" === "src0")
    val bloom = Curation.benchGramBloom(bench, "doc_id", "text",
      n = 4, fpp = 0.01)
    val streamedIds = StreamJobs.drainToTable(s,
        StreamJobs.decontaminateStream(
          StreamJobs.documentsStream(s, sf001), bloom, n = 4))
      .select("doc_id").as[Long].collect().toSet
    // parity: the stream filter drops the batch gramHit set on the
    // SAME bloom bytes — stateless, so no arrival-order caveats
    val drop = docs.filter(Curation.gramHit($"text", bloom, 4))
      .select("doc_id").as[Long].collect().toSet
    val all = docs.select("doc_id").as[Long].collect().toSet
    assert(streamedIds == all -- drop)
    // safe direction: every EXACT-contaminated doc is dropped (the
    // bloom never false-negatives); survivors exist
    val exact = Curation.decontaminate(docs.filter($"source" =!= "src0"),
        bench, "doc_id", "text", n = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(exact.subsetOf(drop))
    assert(streamedIds.nonEmpty)
  }

  test("streaming ANN lookup probes the stored IVF-PQ index with batch parity") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.Similarity
    val emb = graft.sources.Tables.load(s, sf001, "embeddings")
    val idxDir = java.nio.file.Files.createTempDirectory("graft-annstream")
      .toString + "/idx"
    val outDir = java.nio.file.Files.createTempDirectory("graft-annstream")
      .toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-annstream")
      .toString
    Similarity.ivfPqIndex(emb, "vec_id", "embedding", dim = 64,
      nlist = 16, residual = true).write(idxDir)
    // query vectors arrive as a stream in two micro-batches
    val queries = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val q = StreamJobs.annLookupStream(
        input.toDS().toDF("vec_id", "embedding"), idxDir, outDir,
        "vec_id", "embedding", k = 5, nprobe = 4)
      .option("checkpointLocation", ckpt).start()
    try {
      queries.grouped(math.max(1, queries.size / 2 + 1)).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = s.read.parquet(outDir)
      .select("q_id", "nn_id", "rank", "cos")
      .as[(Long, Long, Long, Double)].collect().toSet
    // parity: the union of per-batch probes equals the one-shot batch
    // probe of the same query set against the same stored index
    val idx = Similarity.readIvfPqIndex(s, idxDir, "vec_id", "embedding")
    val batch = Similarity.ivfPqTopKWithIndex(
        emb.filter($"vec_id" % 50 === 0), idx, k = 5, nprobe = 4)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(streamed == batch)
    // results arrived partitioned by batch id (the replay-idempotence
    // unit: a replayed batch overwrites its own subdir)
    assert(s.read.parquet(outDir).columns.contains("batch_id") ||
      new java.io.File(outDir).listFiles().exists(
        _.getName.startsWith("batch_id=")))
  }

  test("streaming corpus-clean agrees with the batch pipeline's fingerprint set") {
    val s = spark
    import s.implicits._
    val docs = StreamJobs.documentsStream(s, sf001)
    val streamed = StreamJobs
      .drainToTable(s, StreamJobs.corpusCleanStream(docs))
    // which doc_id survives a duplicate set is arrival-order dependent
    // in a stream, but the FINGERPRINT set and the count are exactly
    // the batch pipeline's (gates are per-row; dedup keeps one per fp)
    val streamedFps = streamed.select("fp").as[String].collect().toSet
    val batch = graft.queries.Registry.all("q_pipeline_corpus_clean")
      .run(s, sf001)
    val batchFps = batch
      .join(graft.sources.Tables.load(s, sf001, "documents"), "doc_id")
      .select(graft.functions.TextFunctions.fingerprint($"text").as("fp"))
      .as[String].collect().toSet
    assert(streamedFps == batchFps)
    assert(streamed.count() == batch.count())
    // streaming dedup is the stateful exact-dedup operator: the plan
    // carries a state store (dropDuplicates), not a window
    assert(streamed.count() > 0)
  }

  test("bounded corpus-clean: dedup inside the horizon, re-admit beyond it") {
    val s = spark
    import s.implicits._
    val t0 = 1700000000000L
    val hour = 3600000L
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    // same fingerprint, different raw forms (case/whitespace variants)
    val a1 = (1L, "the cat and the dog of the house is happy today", ts(t0))
    val a2 = (2L, "The cat and the dog  of the house is happy today",
      ts(t0 + 60000))
    val a3 = (3L, "the cat and the dog of the house is happy today",
      ts(t0 + hour / 2))
    val b = (4L, "the bird and the fish of the lake is quiet now",
      ts(t0 + 3 * hour))
    val a4 = (5L, "the cat and the dog of the house is happy today",
      ts(t0 + 3 * hour + hour / 2))
    val out = graft.streaming.StreamHarness.run(s, Seq(
      (0L, Seq(a1, a2)), // intra-batch duplicate: one survivor
      (1L, Seq(a3)),     // within the 1h horizon: dropped
      (2L, Seq(b)),      // advances the watermark past A's expiry
      (3L, Seq(a4)))     // beyond the horizon: state evicted, re-admitted
    ) { ds =>
      graft.streaming.StreamJobs.corpusCleanStreamBounded(
        ds.toDF("doc_id", "text", "ing_ts"), "ing_ts", "1 hour").as[
        (Long, String, String, Long, Double)]
    }
    val byFp = out.select("fp", "doc_id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byFp.size == 2, s"expected 2 fingerprints, got $byFp")
    val aFp = byFp.values.find(_.contains(5L)).get
    // A: one survivor from the first epoch, plus the re-admission —
    // the within-horizon duplicate (id 3) must NOT appear
    assert(!aFp.contains(3L), s"within-horizon duplicate re-admitted: $byFp")
    assert(aFp.size == 2 && (aFp - 5L).subsetOf(Set(1L, 2L)), s"$byFp")
    assert(byFp.values.find(_.contains(4L)).get == Set(4L))
  }

  test("streaming session windows produce per-user sessions") {
    val events = StreamJobs.eventsStream(spark, sf0001)
    val streamed = StreamJobs
      .drainToTable(spark, StreamJobs.sessionCounts(events, "30 minutes"))
    assert(streamed.count() > 0)
    // session integrity: per-user event totals in closed sessions never
    // exceed the user's batch event count
    val perUser = streamed.groupBy("user_id").agg(sum("n").as("total"))
    val batchPerUser = graft.sources.Tables.load(spark, sf0001, "events")
      .groupBy("user_id").count()
    val joined = perUser.join(batchPerUser, "user_id")
      .filter(col("total") > col("count"))
    assert(joined.count() == 0)
  }

  test("batch rule: one bounded read decides a micro-batch; only a large narrow batch is widened; an empty one never reaches the append") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation,
      Repartition}
    import graft.plans.LocalRows
    val p = s.sparkContext.defaultParallelism
    val n = StreamJobs.BatchRows
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: Repartition if r.shuffle => r }
    // small + narrow: one job copies it to the driver, no exchange; the
    // copy answers isEmpty with no job
    val narrow = s.range(0, 100, 1, 1).toDF("id")
    val (small, jobs, _) =
      sparkWork(StreamJobs.prepare(narrow, keepWidth = false))
    assert(jobs.size === 1)
    assert(small.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(small.as[Long].collect().sorted.toSeq === (0L until 100L))
    // a batch of many small partitions (an open-loop stream's, one per
    // addData) is read in one job too
    assert(sparkWork(StreamJobs.prepare(s.range(0, 100, 1, 25).toDF("id"),
      keepWidth = true))._2.size === 1)
    // the ingest form keeps the source's width, so an append lands no
    // more files than the source has partitions
    val kept = StreamJobs.prepare(narrow, keepWidth = true)
    assert(exchanges(kept).isEmpty && kept.rdd.getNumPartitions === 1)
    // large + narrow: widened to the parallelism; its emptiness is
    // already known, so checking it runs no job (and no shuffle)
    val large = StreamJobs.prepare(s.range(0, n + 1, 1, 1).toDF("id"),
      keepWidth = true)
    assert(large.rdd.getNumPartitions === p)
    val (empty, probes, _) = sparkWork(LocalRows.isEmpty(large))
    assert(!empty && probes.isEmpty)
    // already wide: untouched
    val wide = StreamJobs.prepare(s.range(0, n + 1, 1, p).toDF("id"),
      keepWidth = false)
    assert(exchanges(wide).isEmpty && wide.rdd.getNumPartitions === p)
    // plan-UNKNOWN partitioning (FileSourceScanExec reports
    // UnknownPartitioning(0)): the RDD fallback still sees the parquet
    // batch is wide, so it pays no exchange
    val dir = java.nio.file.Files.createTempDirectory("batch_rule_pq")
      .toString + "/t.parquet"
    s.range(0, n * 4L, 1, p).toDF("id").write.mode("overwrite").parquet(dir)
    val pq = s.read.parquet(dir)
    assert(pq.queryExecution.executedPlan
      .outputPartitioning.numPartitions === 0) // the premise
    assert(exchanges(StreamJobs.prepare(pq, keepWidth = false)).isEmpty)
    // an empty micro-batch never reaches the append; its preparation
    // is the one bounded read
    implicit val sqlCtx = s.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val ckpt = java.nio.file.Files.createTempDirectory("batch_rule_ckpt")
    val q = StreamJobs.ingest(in.toDF(), "r") { (b, tag) =>
      seen.add(b.count() -> tag); ()
    }.option("checkpointLocation", ckpt.toString).start()
    try {
      val (_, emptyJobs, _) = sparkWork {
        in.addData(Seq.empty[Long]); q.processAllAvailable()
      }
      assert(q.recentProgress.exists(_.batchId == 0))
      assert(emptyJobs.size === 1, emptyJobs)
      in.addData(1L, 2L, 3L); q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq === Seq(3L -> "r-1"))
  }
}
