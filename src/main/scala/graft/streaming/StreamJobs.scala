package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end Structured Streaming jobs over the engine's sources:
  * readStream → transforms → writeStream, with the reference's
  * bounded-input lifecycle — end-of-stream flush and drain
  * (SURVEY §2.8: EndOfStreamStates / DrainNotification →
  * Trigger.AvailableNow + processAllAvailable + stop).
  */
object StreamJobs {

  /** The events table as a STREAM: same schema and ns→µs conversion as
    * the batch path (Tables.load), via readStream on the parquet path.
    * In production this is the Kafka source; file-stream here keeps the
    * identical downstream plan. */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  def eventsStream(spark: SparkSession, sfDir: String,
      startpoint: Option[Startpoint] = None): DataFrame = {
    // the file-stream source requires a DIRECTORY; stage the single
    // parquet file behind a symlink dir (zero-copy), memoized per
    // source dir so repeated calls don't accumulate temp dirs
    val dir = stagedDirs.computeIfAbsent(sfDir, { _ =>
      val d = java.nio.file.Files.createTempDirectory("events_stream")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("events.parquet"),
        java.nio.file.Paths.get(s"$sfDir/events.parquet"))
      d.toFile.deleteOnExit()
      d
    })
    // same schema-adaptive ts normalization as the batch loader
    // (Tables.load): int64-nanos regime divides, NTZ regime casts
    // (session tz is UTC), TIMESTAMP passes through
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(raw)
      .options(startpoint.map(_.fileOptions).getOrElse(Map.empty))
      .parquet(dir.toString)
    raw("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        stream.withColumn("ts", col("ts").cast("timestamp"))
      case _ => stream
    }
  }

  /** The documents table as a STREAM — the ingest shape of a
    * continuously-arriving corpus (crawl snapshots landing as files).
    * Same symlink-dir staging as [[eventsStream]]. */
  def documentsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagedDirs.computeIfAbsent(s"$sfDir#documents", { _ =>
      val d = java.nio.file.Files.createTempDirectory("documents_stream")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("documents.parquet"),
        java.nio.file.Paths.get(s"$sfDir/documents.parquet"))
      d.toFile.deleteOnExit()
      d
    })
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    spark.readStream.schema(schema).parquet(dir.toString)
  }

  /** The corpus-cleaning pipeline as ONE streaming plan — the
    * continuous-ingest form of q_pipeline_corpus_clean: stateful
    * exact-dedup on the normalized-text fingerprint (first arrival per
    * fingerprint wins; the state store holds one fp per distinct
    * document, exactly the keyspace a dedup service must hold), then
    * the narrow quality/language gates. Gates run on the NORMALIZED
    * text — the fingerprint's preimage — so gate outcomes are
    * invariant across a fingerprint class: even when duplicates differ
    * in raw text (case/whitespace variants), the gate decision is the
    * same whichever arrives first. The surviving doc_id per duplicate
    * set is arrival-order dependent (streams have no min-id oracle),
    * but the FINGERPRINT set of the output is deterministic and equals
    * the batch pipeline's, which gates on the same normalized form
    * (StreamingSpec pins this).
    *
    * At scale: dropDuplicates state grows with distinct fingerprints;
    * [[corpusCleanStreamBounded]] is the production form that bounds
    * it with dropDuplicatesWithinWatermark (dedup horizon = the
    * watermark delay) — same plan otherwise. */
  def corpusCleanStream(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions._
    cleanGates(docs
      .withColumn("ntext", normalizeText(col("text")))
      .withColumn("fp", md5(col("ntext")))
      .dropDuplicates("fp"))
  }

  /** Continuous corpus-profile maintenance at ingest: each arriving
    * micro-batch's stats are appended to the stored
    * `operators.CorpusProfile` at `dir` in O(batch) — the stream-side
    * of the incremental-profile discipline, so corpus statistics
    * (token mass per language, vocabulary, df table) stay current
    * without any corpus rescan, ever. Batch-id idempotence via
    * `CorpusProfile.appendOnce` guards foreachBatch's at-least-once
    * retries. Returns the writer — caller picks trigger/checkpoint
    * and starts it. */
  def profileStream(docs: DataFrame, dir: String, idCol: String,
      strataCol: String, textCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.operators.CorpusProfile.appendOnce(
          graft.operators.CorpusProfile.build(widen(batch), idCol, strataCol,
            textCol), dir, batchId)
        ()
    }

  /** Streaming ANN serving: each arriving micro-batch of query
    * vectors ranks top-k against the PERSISTED composed IVF-PQ index
    * at `indexDir` (`Similarity.IvfPqIndex` — built once by a batch
    * job, optionally extended by `ivfPqAppendToStored` ingest), and
    * the batch's results land as parquet under
    * `outDir/batch_id=<id>/`. Per batch the work is the stored-index
    * probe only — nlist centroid scores per query + a probe-capped
    * scan of the code table; no training, and the float corpus is
    * never read. The index read and both codebook collects are
    * cached per store generation ([[ModelCache]]): a quiet store pays
    * one record read per batch, while code rows appended by a
    * concurrent ingest (every append raises the generation) still
    * become visible to the next micro-batch.
    *
    * Replay idempotence: foreachBatch is at-least-once, so each
    * batch OVERWRITES its own batch_id-scoped subdir — a replayed
    * batch rewrites the same path instead of appending duplicate
    * result rows; readers see exactly-once results via partition
    * discovery over `outDir`. Returns the writer — caller picks
    * trigger/checkpoint and starts it. */
  def annLookupStream(queries: DataFrame, indexDir: String,
      outDir: String, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val ready = ModelCache.getOrLoad(s, indexDir,
            key = s"$indexDir#ivfpq#$idCol#$vecCol") {
          graft.operators.Similarity.ivfPqReady(
            graft.operators.Similarity.readIvfPqIndex(s, indexDir,
              idCol, vecCol))
        } (_ => ()) // nothing pinned: handle holds plans + literals
        graft.operators.Similarity
          .ivfPqTopKWithReady(serveBatch(batch), ready, k, nprobe)
          .write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
        ()
    }

  /** [[annLookupStream]] on the PLAIN IVF unit (float vectors, no PQ
    * coding — the exact-scoring serving tier): each micro-batch of
    * (id, embedding) queries ranks against the persisted
    * `Similarity.IvfIndex` — nlist centroid scores per query + a
    * probe-capped scan of the assigned table; no training, no
    * re-clustering. Index read + codebook collect are cached per
    * store generation ([[ModelCache]]), so rows appended by a
    * concurrent [[annIngestStream]] or by a plain append still become
    * visible to the next micro-batch; same
    * batch_id-subdir overwrite idempotence as every serve here. */
  def ivfLookupStream(queries: DataFrame, indexDir: String,
      outDir: String, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val ready = ivfReadyCached(batch.sparkSession, indexDir,
          idCol, vecCol)
        graft.operators.Similarity.ivfTopKWithReady(serveBatch(batch),
          ready, k, nprobe)
          .write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
        ()
    }

  /** Query rows up to which a serve micro-batch is collected once to
    * the driver ([[serveBatch]]). */
  private val ServeBatchRows = 256

  /** A serve stream's micro-batch, made driver-local when it holds at
    * most [[ServeBatchRows]] query rows (`graft.plans.LocalRows`, one
    * bounded job). The probe then reads the batch once instead of once
    * per use, and a batch probing few cells or terms takes the
    * operators' pushed In(cell) / In(term) arm, so the stored scans
    * skip the row groups it does not probe. A larger batch stays as it
    * is and takes the join arms. */
  private def serveBatch(batch: DataFrame): DataFrame =
    graft.plans.LocalRows.collectSmall(batch, ServeBatchRows)

  /** The generation-cached [[graft.operators.Similarity.IvfReady]] handle
    * shared by [[ivfLookupStream]] and [[hybridLookupStream]]. */
  private def ivfReadyCached(s: SparkSession, indexDir: String,
      idCol: String, vecCol: String)
      : graft.operators.Similarity.IvfReady =
    ModelCache.getOrLoad(s, indexDir,
        key = s"$indexDir#ivf#$idCol#$vecCol") {
      graft.operators.Similarity.ivfReady(
        graft.operators.Similarity.readIvfIndex(s, indexDir, idCol,
          vecCol))
    } (_ => ()) // nothing pinned: handle holds plans + literals

  /** Streaming lexical retrieval serving — [[annLookupStream]]'s
    * pattern applied to the SIXTH persistence unit: each arriving
    * micro-batch of text queries ranks BM25 top-k against the
    * PERSISTED posting index at `indexDir`
    * (`TextProfile.Bm25Index` — built once by a batch job, extended
    * by `bm25IndexAppend` ingest), and the batch's results land as
    * parquet under `outDir/batch_id=<id>/`. Per batch the work is
    * the posting lookup only — no tokenize of the corpus, no tf/df
    * recompute; the query batch's terms broadcast-semi-join the posting
    * table, and a small batch ([[serveBatch]]) with few terms also
    * pushes a literal In(term) into the term-sorted posting scan. The
    * index read is cached per store generation
    * ([[ModelCache]]) with the vocab-bounded df aggregation PERSISTED
    * for the entry's lifetime, so a quiet store pays one record read
    * per batch instead of a store read plus a df re-aggregation;
    * postings appended by a concurrent ingest become visible to the
    * next micro-batch, and because the read takes one record snapshot
    * a batch sees postings, df and the N/T totals of one commit.
    *
    * Replay idempotence: foreachBatch is at-least-once, so each
    * batch OVERWRITES its own batch_id-scoped subdir — the same
    * exactly-once-by-overwrite contract as annLookupStream. Returns
    * the writer — caller picks trigger/checkpoint and starts it. */
  def bm25LookupStream(queries: DataFrame, indexDir: String,
      outDir: String, qIdCol: String, qTextCol: String, idCol: String,
      k: Int, stopwordCut: Boolean = true)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val idx = bm25IndexCached(batch.sparkSession, indexDir, idCol)
        graft.operators.TextProfile
          .bm25TopKWithIndex(serveBatch(batch), qIdCol, qTextCol, idx, k,
            stopwordCut)
          .write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
        ()
    }

  /** The generation-cached stored [[graft.operators.TextProfile.Bm25Index]]
    * shared by [[bm25LookupStream]] and [[hybridLookupStream]]: the
    * df partial aggregation (vocab-bounded) persists for the cache
    * entry's lifetime and releases when the store's generation moves. */
  private def bm25IndexCached(s: SparkSession, indexDir: String,
      idCol: String): graft.operators.TextProfile.Bm25Index =
    ModelCache.getOrLoad(s, indexDir, key = s"$indexDir#bm25#$idCol") {
      val i = graft.operators.TextProfile.readBm25Index(s, indexDir,
        idCol)
      i.copy(dfreq = i.dfreq.persist())
    } (i => { i.dfreq.unpersist(); () })

  /** Streaming benchmark decontamination — the serve pattern applied
    * to the persisted decon set (`Curation.writeDeconSet`): each
    * arriving micro-batch of DOCUMENTS probes the stored benchmark
    * grams with a semi join and lands (idCol, n_hits) — its
    * contaminated members and their distinct-gram hit counts — under
    * `outDir/batch_id=<id>/`. This is the shape a 100 TB ingest
    * actually runs: benchmarks are tiny and change rarely (gram
    * extraction paid once, at set-write time), corpora arrive
    * forever, and each batch pays one batch-gram explode + one
    * broadcast-sized semi join. The set read is cached per store
    * generation ([[ModelCache]]) with the benchmark-bounded gram frame
    * PERSISTED for the entry's lifetime, so a quiet store pays one
    * record read per batch instead of a set re-scan;
    * `deconSetAppend`ed benchmarks still take effect from the next
    * micro-batch. Replay safety is DOUBLE here: batch_id-scoped
    * overwrite (the serve convention) AND semi-join semantics (a
    * duplicate-holding set probes identically). Returns the writer —
    * caller picks trigger/checkpoint and starts it. */
  def deconLookupStream(docs: DataFrame, setDir: String,
      outDir: String, idCol: String, textCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val (set, n) = ModelCache.getOrLoad(batch.sparkSession,
            setDir, key = s"$setDir#deconset") {
          val (g, nn) = graft.operators.Curation.readDeconSet(
            batch.sparkSession, setDir)
          (g.persist(), nn)
        } (e => { e._1.unpersist(); () })
        graft.operators.Curation
          .decontaminateWithSet(widen(batch), set, idCol, textCol, n)
          .write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
        ()
    }

  /** [[deconLookupStream]]'s EMBEDDING-SPACE twin: each arriving
    * micro-batch of vectors probes the stored semantic decon set and
    * lands its contaminated members as (idCol, cos = max verified
    * cosine) under `outDir/batch_id=<id>/`. Catches the
    * paraphrased/translated benchmark leakage the gram probe cannot
    * see, at the same serve shape: the benchmark pack is paid once
    * at set-write time, each batch pays one narrow key pass + the
    * occupancy-bounded bucket join(s). LAYOUT-ADAPTIVE (round 18):
    * the store record's kind names the pack — a banded set
    * ([[graft.operators.Similarity.writeSemanticDeconSetBanded]],
    * params bands/rowsPerBand; the measured-recall scale path) probes
    * through the banded OR-construction, a single-band set
    * (`writeSemanticDeconSet`, param planes) through
    * the single-pack probe — so rotating a deployment to banded sets
    * needs no serve change, just a set rewrite. A banded set whose
    * stored shape sits at or past the cost crossover
    * ([[graft.operators.Similarity.bandedShapeDominated]] —
    * bands ≥ 2^rowsPerBand, the low-τ regime) probes through the
    * EXACT arm over the same store's (bv, bnrm) columns instead:
    * strictly cheaper than the dominated banded probe AND recall 1.0
    * (round-18 finding #1). The read is
    * cached per store generation ([[ModelCache]]), so a re-written
    * set takes effect from the next micro-batch and a quiet stream
    * pays a record read, not a set re-read. Hits are row-local given
    * the stored set, so the cross-batch union equals the batch probe
    * exactly; batch_id-scoped overwrite = replay idempotent. Returns
    * the writer — caller picks trigger/checkpoint and starts it. */
  def embedDeconLookupStream(vecs: DataFrame, setDir: String,
      outDir: String, idCol: String, vecCol: String,
      threshold: Double)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // the cached value is a probe CLOSURE, which bakes in this
        // stream's parameters — so the cache key must carry them too,
        // or two streams probing one set at different thresholds (or
        // column names) would silently share the first stream's probe
        val probe = ModelCache.getOrLoad(s, setDir,
            key = s"$setDir#$idCol#$vecCol#$threshold") {
          if (graft.store.Store.require(s, setDir,
              graft.operators.Similarity.BandedDeconKind,
              graft.operators.Similarity.SemanticDeconKind).kind ==
              graft.operators.Similarity.BandedDeconKind) {
            val (set, dim, bands, rpb) = graft.operators.Similarity
              .readSemanticDeconSetBanded(s, setDir)
            if (graft.operators.Similarity
                .bandedShapeDominated(bands, rpb)) {
              // crossover dispatch (round-18 finding #1): a stored
              // shape at bands ≥ 2^rowsPerBand does MORE verify work
              // than the exact probe at recall < 1, for every
              // threshold — strictly dominated, so probe the stored
              // set's (bv, bnrm) through the exact arm instead. Band
              // 0 carries every bench vector exactly once, so the
              // slice is a narrow filter over the same store — no
              // set rewrite needed to rotate such a deployment.
              val bb = set.filter(col("band") === 0)
                .select("bv", "bnrm")
              (b: DataFrame) => graft.operators.Similarity
                .decontaminateSemanticExactWithSet(b, bb, idCol,
                  vecCol, threshold)
            } else
              (b: DataFrame) => graft.operators.Similarity
                .decontaminateSemanticBandedWithSet(b, set, idCol,
                  vecCol, threshold, dim, bands, rpb)
          } else {
            val (set, dim, planes) = graft.operators.Similarity
              .readSemanticDeconSet(s, setDir)
            (b: DataFrame) => graft.operators.Similarity
              .decontaminateSemanticWithSet(b, set, idCol, vecCol,
                threshold, dim, planes)
          }
        } (_ => ()) // nothing pinned: the set frames are plain reads
        probe(widen(batch))
          .write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
        ()
    }

  /** Streaming LM quality scoring — the serve pattern applied to the
    * persisted bigram model (`LmScore.writeModel`): each arriving
    * micro-batch of documents scores against the STORED model (two
    * vocab-bounded count reads, partials collapsed at read — the
    * reference corpus is never touched) and lands (idCol, n_bigrams,
    * bits, milli_bits) under `outDir/batch_id=<id>/`. The quality-
    * filtering shape a 100 TB ingest runs: the reference model
    * changes rarely (appendModel takes new reference batches in
    * O(batch); they take effect from the next micro-batch, because
    * each batch probes the store's generation and re-reads the model
    * only when it moved — [[ModelCache]], closing the per-batch fixed
    * read cost), corpora arrive forever, and
    * scores are doc-local, so the cross-batch union equals the batch
    * scorer exactly. Batch_id-scoped overwrite = replay idempotent.
    * Returns the writer — caller picks trigger/checkpoint and starts
    * it. */
  /** Serve-side parallelism guard for the scorer streams: a
    * micro-batch arrives with its SOURCE's partitioning (MemoryStream:
    * one partition; a single Kafka partition: one), while a scorer's
    * FIRST stage multiplies rows — tokens-per-doc × matched model rows
    * — before any exchange, so on a narrow batch the whole fan-out
    * runs in the source's task count. Measured at sf10: the NB serve's
    * per-batch write read 28–40 s single-partition vs ~3 s wide — the
    * explode+probe stage was one task chewing ~80M joined rows. One
    * cheap round-robin shuffle of the RAW batch (pre-explode, so it
    * moves doc rows, not the fan-out) buys scan parallelism for that
    * stage; skipped when the source already delivers at least half the
    * session's parallelism, and skipped when the batch is SMALL
    * (under [[WidenRowFloor]] rows): a near-empty micro-batch gains
    * nothing from the exchange but pays its latency, and on the
    * non-aggregating ingest paths each widened tiny batch would land
    * O(parallelism) near-empty files per append instead of O(source
    * partitions), accelerating small-file layout drift between
    * compactions. The size probe is BOUNDED, not a full count: a
    * CollectLimit over the floor reads at most WidenRowFloor rows
    * however large the batch is, so the probe's cost is a constant
    * while the repartition it gates saved 2–4× at sf10
    * (BASELINE.md round-16 serve-parallelism notes). Partition count
    * comes from the executed plan's output partitioning when the plan
    * KNOWS it — but FileSourceScanExec and DSv2 micro-batch scans
    * report UnknownPartitioning(0), so 0 means UNKNOWN, not narrow:
    * for those the count falls back to `batch.rdd.getNumPartitions`
    * (building the RDD lineage runs no job — only reading one
    * integer off it), otherwise an already-wide parquet-backed batch
    * would pay the exchange it was supposed to skip (round-17
    * ADVICE). */
  private[graft] val WidenRowFloor = 4096L

  private[graft] def widen(batch: DataFrame): DataFrame = {
    val p = batch.sparkSession.sparkContext.defaultParallelism
    val planParts =
      batch.queryExecution.executedPlan.outputPartitioning.numPartitions
    val parts =
      if (planParts > 0) planParts else batch.rdd.getNumPartitions
    if (parts * 2 >= p) batch
    else if (batch.limit(WidenRowFloor.toInt).count() < WidenRowFloor)
      batch
    else batch.repartition(p)
  }

  def lmLookupStream(docs: DataFrame, modelDir: String,
      outDir: String, idCol: String, textCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        // generation-cached (round-17 finding #3): the store is
        // re-read — and the previous model's pinned cache released —
        // only when an append, write or compaction raised the
        // generation
        val model = ModelCache.getOrLoad(batch.sparkSession, modelDir) {
          graft.operators.LmScore.readModel(batch.sparkSession, modelDir)
        } (graft.operators.LmScore.releaseBackoffCache)
        graft.operators.LmScore.score(model, widen(batch), idCol,
            textCol)
          .write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
        ()
    }

  /** [[lmLookupStream]]'s WRITE-path twin: each micro-batch of
    * REFERENCE documents appends to the persisted bigram model in
    * O(batch) via `LmScore.appendModel` — the `runId-batchId` tag
    * commits in one store record write, so foreachBatch's
    * at-least-once replay converges to exactly-once. A concurrent
    * lookup stream on the same dir scores against the growing
    * reference from its next micro-batch on, and is SAFE against
    * crash recovery: committed files are never deleted outside
    * quiesced compaction, and a replay purges only uncommitted
    * orphans no reader can see — a serve never observes a missing
    * file. Quiesced
    * `Maintenance.compactAll` restores the sorted/sized layout and
    * the zero-aggregation serve path. Same runId discipline as every
    * ingest stream: fresh per (checkpoint, stream) pair. */
  def lmIngestStream(reference: DataFrame, modelDir: String,
      textCol: String, runId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    reference.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.LmScore.appendModel(widen(batch), textCol, modelDir,
            s"$runId-$batchId")
        ()
    }

  /** Streaming NB classification — [[lmLookupStream]]'s serve pattern
    * applied to the persisted classifier model
    * (`Classify.writeNbModel`): each arriving micro-batch of documents
    * classifies against the STORED model (model-bounded count reads,
    * partials collapsed at read — the labeled training set is never
    * touched) and lands (idCol, label, n_tokens, bits, milli_bits)
    * under `outDir/batch_id=<id>/`. The classifier-routing shape a
    * 100 TB ingest runs: the model changes rarely (appendNbModel takes
    * new labeled batches in O(batch); they take effect from the next
    * micro-batch, because each batch probes the store's generation
    * and re-reads only when it moved — [[ModelCache]]), corpora
    * arrive forever, and class decisions are doc-local, so the
    * cross-batch union equals the batch classifier exactly.
    * Batch_id-scoped overwrite = replay idempotent. The caches
    * [[graft.operators.Classify.classifyNb]] pins release when the
    * generation moves (the cache entry's lifecycle carries the
    * releaseNbCache discipline) — the serve session holds one
    * model's pinned storage per store dir, never an accumulation. Returns the writer — caller picks trigger/checkpoint
    * and starts it. */
  def nbLookupStream(docs: DataFrame, modelDir: String,
      outDir: String, idCol: String, textCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        // generation-cached; the release-per-batch discipline moved
        // into the cache's entry lifecycle (released on a reload,
        // so the serve session still never ACCUMULATES pinned storage
        // — it holds exactly one model's worth per store dir)
        val model = ModelCache.getOrLoad(batch.sparkSession, modelDir) {
          graft.operators.Classify.readNbModel(batch.sparkSession,
            modelDir)
        } (graft.operators.Classify.releaseNbCache)
        graft.operators.Classify
          .classifyNb(model, widen(batch), idCol, textCol)
          .write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
        ()
    }

  /** Streaming DSIR importance weighting — [[lmLookupStream]]'s serve
    * pattern over TWO persisted bigram stores (`LmScore.writeModel`):
    * each arriving micro-batch of documents weights against the
    * stored target (clean/domain) and source (whole-pool) models and
    * lands (idCol, n_bigrams, target_bits, source_bits, delta_bits,
    * delta_milli_bits) under `outDir/batch_id=<id>/`. This is the
    * deployment shape the DSIR paper describes and
    * `LmScore.importanceBits` documents: both models train once per
    * pool/domain lifetime; the recurring per-batch cost is one batch
    * explode + the stored vocab-bounded dim joins, with BOTH stores
    * cached independently per generation ([[ModelCache]], round-17
    * finding #3 — the four-parquet-read fixed cost is paid only when a
    * store's generation moves, and appends still take effect next
    * batch). Weights
    * are doc-local, so the cross-batch union equals the batch
    * weigher exactly; batch_id-scoped overwrite = replay idempotent.
    * Each model's pinned vocab-bounded caches release when its cache
    * entry turns over (the releaseDsirCache discipline carried by the
    * two entries' lifecycles) — the serve never ACCUMULATES pinned
    * storage across an unbounded stream. Returns the writer — caller
    * picks trigger/checkpoint and starts it. */
  def dsirLookupStream(docs: DataFrame, targetDir: String,
      sourceDir: String, outDir: String, idCol: String,
      textCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        // both stores cached INDEPENDENTLY (they append on
        // independent schedules); each model's pinned cache releases
        // when its own generation moves — the releaseDsirCache
        // discipline carried by the two entries' lifecycles
        def cached(dir: String) =
          ModelCache.getOrLoad(batch.sparkSession, dir) {
            graft.operators.LmScore.readModel(batch.sparkSession, dir)
          } (graft.operators.LmScore.releaseBackoffCache)
        val target = cached(targetDir)
        val source = cached(sourceDir)
        graft.operators.LmScore
          .importanceBits(target, source, widen(batch), idCol, textCol)
          .write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
        ()
    }

  /** [[nbLookupStream]]'s WRITE-path twin: each micro-batch of
    * LABELED documents appends to the persisted classifier model in
    * O(batch) via `Classify.appendNbModel` — tagged `runId-batchId`
    * files, so foreachBatch's at-least-once replay converges to
    * exactly-once (the tag commits in one store record write). A
    * concurrent lookup stream on the
    * same dir classifies against the growing model from its next
    * micro-batch on, and is safe against crash recovery exactly as
    * [[lmIngestStream]] is. Quiesced `Maintenance.compactAll`
    * restores the sorted/sized layout and the zero-aggregation serve
    * path. Same runId discipline as every ingest stream: fresh per
    * (checkpoint, stream) pair. */
  def nbIngestStream(labeled: DataFrame, modelDir: String,
      labelCol: String, textCol: String, runId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    labeled.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.Classify.appendNbModel(widen(batch), labelCol,
            textCol, modelDir, s"$runId-$batchId")
        ()
    }

  /** Streaming HYBRID retrieval serving — the composed form of
    * [[bm25LookupStream]] + [[annLookupStream]]: each micro-batch of
    * queries (carrying BOTH a text column and an embedding column)
    * probes the stored BM25 posting index AND the stored IVF index,
    * and the two ranked lists fuse via integer-exact RRF
    * (`Retrieval.rrfFuse`) before landing under
    * `outDir/batch_id=<id>/`. Per batch the work is two stored-index
    * probes plus a query-batch-sized fusion — no corpus tokenize, no
    * training, the float corpus only via the IVF probe's cell join.
    * Fusion is q_id-local, so per-batch fusing equals fusing the
    * union (each query lives in one batch) — what lets the streaming
    * form share the batch oracle. Both index reads are generation-cached
    * exactly as in the component serves ([[bm25IndexCached]] /
    * [[ivfReadyCached]] — shared cache entries, so a hybrid serve
    * and a single-modality serve on the same store pay one load);
    * same batch_id-overwrite replay idempotence as the component
    * serves.
    *
    * Self-match asymmetry: the semantic arm inherits
    * `ivfTopKWithIndex`'s ANN convention of dropping the query's own
    * id (`q_id =!= nn_id`), while the lexical BM25 arm retains it —
    * so when query ids share the corpus id space, a query's own
    * document arrives with only its lexical rank contribution. That
    * is the default (`excludeSelf = false`, the shape the gate oracle
    * replays); pass `excludeSelf = true` to filter the lexical arm's
    * self-matches too, making both arms treat the query's own id
    * consistently — the setting a real serving deployment whose query
    * ids alias doc ids should use. */
  def hybridLookupStream(queries: DataFrame, bm25Dir: String,
      ivfDir: String, outDir: String, qIdCol: String, qTextCol: String,
      qVecCol: String, docIdCol: String, vecIdCol: String, k: Int,
      stopwordCut: Boolean = true, nprobe: Int = 0, k0: Int = 60,
      excludeSelf: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch {
      (in: DataFrame, batchId: Long) =>
        val batch = serveBatch(in)
        val spark = batch.sparkSession
        val bm = bm25IndexCached(spark, bm25Dir, docIdCol)
        val ivf = ivfReadyCached(spark, ivfDir, vecIdCol, qVecCol)
        val lex =
          if (excludeSelf) {
            // mirror the semantic arm's PRE-ranking exclusion: fetch
            // one extra, drop the self row, close its rank gap (at
            // most one self-match per query), truncate back to k —
            // ranks stay dense 1..k exactly as ivfTopKWithIndex's do
            val raw = graft.operators.TextProfile.bm25TopKWithIndex(
              batch, qIdCol, qTextCol, bm, k + 1, stopwordCut)
            val selfRank = raw
              .filter(col("q_id") === col(docIdCol))
              .select(col("q_id"), col("rank").as("__self_rank"))
            raw.filter(col("q_id") =!= col(docIdCol))
              .join(selfRank, Seq("q_id"), "left")
              .withColumn("rank",
                when(col("__self_rank") < col("rank"),
                  col("rank") - 1).otherwise(col("rank")))
              .filter(col("rank") <= k)
              .drop("__self_rank")
          } else graft.operators.TextProfile.bm25TopKWithIndex(
            batch, qIdCol, qTextCol, bm, k, stopwordCut)
        val sem = graft.operators.Similarity.ivfTopKWithReady(
          batch.select(col(qIdCol).as(vecIdCol), col(qVecCol)),
          ivf, k, nprobe)
        graft.operators.Retrieval.rrfFuse(
            Seq(lex.select(col("q_id"), col(docIdCol).as("id"),
                col("rank")),
              sem.select(col("q_id"), col("nn_id").as("id"),
                col("rank"))),
            "q_id", "id", "rank", k, k0)
          .withColumnRenamed("id", docIdCol)
          .write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
        ()
    }

  /** Streaming index INGEST — the write-path twin of the lookup
    * streams: each arriving micro-batch of documents APPENDS to the
    * persisted BM25 posting index at `indexDir` in O(batch) via
    * `TextProfile.bm25IngestBatch` (tagged files and the N/T totals
    * committed in one store record write), so a corpus streaming in is searchable index-build-free
    * — a concurrent [[bm25LookupStream]] on the same dir sees each
    * batch's postings from its next micro-batch on. Exactly-once
    * under foreachBatch's at-least-once replay comes from the
    * per-batch tag `runId-batchId`: a committed tag replays as a
    * no-op, and a replayed uncommitted batch first purges whatever its
    * crashed attempt landed. `runId` must
    * be fresh per (checkpoint, stream) pair — a restart from the SAME
    * checkpoint keeps the same runId (that is what makes replay
    * converge), a NEW logical run takes a new one. Appends accumulate
    * unsorted tagged files by design; `Maintenance.compactAll`
    * (quiesced) restores the term-sorted sized layout.
    *
    * Concurrent serves are safe through crash recovery: a serve reads
    * one record snapshot, committed files are never deleted outside
    * quiesced compaction, and a replay purges only uncommitted
    * orphans no reader can see — a lookup stream on the same dir
    * never observes a missing file. Returns the writer —
    * caller picks trigger/checkpoint and starts it. */
  def bm25IngestStream(docs: DataFrame, indexDir: String,
      textCol: String, runId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.operators.TextProfile.bm25IngestBatch(widen(batch), textCol,
          indexDir, s"$runId-$batchId")
        ()
    }

  /** [[bm25IngestStream]]'s vector-side twin: each micro-batch of
    * (id, embedding) rows is assigned to the stored IVF codebook's
    * cells and appended to the persisted `assigned` table in O(batch)
    * via `Similarity.ivfIngestBatch` — same tagged-file exactly-once
    * contract, same runId discipline, same quiesce-then-compact
    * maintenance story. The codebook is never retrained here (the
    * standard IVF append); re-train is a periodic rebuild. */
  def annIngestStream(vecs: DataFrame, indexDir: String, idCol: String,
      vecCol: String, runId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    val codebook = new CodebookHandle(indexDir, s =>
      graft.operators.Similarity.ivfReady(
        graft.operators.Similarity.readIvfIndex(s, indexDir, idCol,
          vecCol)))
    vecs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.operators.Similarity.ivfIngestBatchWith(
          codebook.get(batch.sparkSession), widen(batch), indexDir,
          s"$runId-$batchId")
        ()
    }
  }

  /** The codebook-side handle an ANN ingest stream reuses across its
    * batches: ingest never changes a codebook (the standard IVF
    * append), so the handle is rebuilt only when the store record lists
    * other codebook files — a rebuild — and the stream's own appends,
    * which raise the generation every batch, never evict it. */
  private final class CodebookHandle[T](dir: String,
      load: SparkSession => T) {
    private var held: Option[(Seq[String], T)] = None
    def get(s: SparkSession): T = synchronized {
      val files = graft.store.Store.require(s, dir).files("codebook.parquet")
      held.filter(_._1 == files).map(_._2).getOrElse {
        val t = load(s)
        held = Some(files -> t)
        t
      }
    }
  }

  /** [[annIngestStream]] on the PQ-coded serving unit: each
    * micro-batch is assigned to the stored coarse cells and encoded
    * with the stored PQ codebooks (residual-aware, nothing retrains)
    * before its code rows land tagged — so the index
    * [[annLookupStream]] serves from grows in O(batch) while it
    * serves, under the same exactly-once tag contract. */
  def annPqIngestStream(vecs: DataFrame, indexDir: String,
      idCol: String, vecCol: String, runId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    val codebooks = new CodebookHandle(indexDir, s =>
      graft.operators.Similarity.ivfPqEncoder(
        graft.operators.Similarity.readIvfPqIndex(s, indexDir, idCol,
          vecCol)))
    vecs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.operators.Similarity.ivfPqIngestBatchWith(
          codebooks.get(batch.sparkSession), widen(batch), indexDir,
          s"$runId-$batchId")
        ()
    }
  }

  /** The ingest-stream family on the MinHash unit: each micro-batch
    * of documents is signed under the STORED banding scheme and its
    * signature rows appended tagged — the near-dup index a concurrent
    * `minhashLshPairsAgainstIndex` dedups arriving batches against
    * grows in O(batch) under the same exactly-once contract. */
  def minhashIngestStream(docs: DataFrame, indexDir: String,
      idCol: String, textCol: String, runId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup.minhashIngestBatch(widen(batch), indexDir,
          idCol, textCol, s"$runId-$batchId")
        ()
    }

  /** The ingest-stream family on the corpus-profile unit: each
    * micro-batch's profile partials (per-stratum counts + per-token
    * df/tf) commit under a `runId-batchId` tag via
    * `CorpusProfile.ingestBatch`, so a replayed batch is a no-op once
    * committed and purges its own torn leftovers otherwise. Profile-fed consumers (rarity, BM25
    * stats) see each batch's contribution exactly once. */
  def profileIngestStream(docs: DataFrame, profileDir: String,
      idCol: String, strataCol: String, textCol: String, runId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          // widen like every other ingest stream: the profile build's
          // first stage (tokenize/explode before the groupBy exchange)
          // otherwise runs in the SOURCE's task count — measured at
          // sf10 (ProfileIngestWiden, 111k-doc batches arriving as one
          // MemoryStream partition): unwidened 25.6 s vs gated 12.3 s
          // over three batches. This path simply never had the
          // round-16 exchange; the round-18 breach hypothesis blamed
          // the gate's fallback, but the gate reads these batches
          // correctly (rddParts=1) — it was never consulted here.
          graft.operators.CorpusProfile.ingestBatch(
            graft.operators.CorpusProfile.build(widen(batch), idCol,
              strataCol, textCol), profileDir, s"$runId-$batchId")
        ()
    }

  /** Streaming benchmark decontamination at ingest: drop every
    * arriving document that shares a word `n`-gram with the benchmark
    * bloom filter (build it once per benchmark release with
    * `Curation.benchGramBloom`). The probe is a pure narrow filter —
    * codegen BloomContains inside a higher-order exists, no explode,
    * no shuffle, NO STATE — so it composes in front of
    * [[corpusCleanStream]]/[[corpusCleanStreamBounded]] at ingest
    * line rate; the bloom bytes ship once per executor inside the
    * serialized expression. Drop semantics are bloom-probable:
    * contaminated documents are ALWAYS dropped (no false negatives),
    * clean ones survive at the build fpp — the safe direction for
    * decontamination. StreamingSpec pins stream-vs-batch drop-set
    * parity on the same bloom bytes. */
  def decontaminateStream(docs: DataFrame, bloomBytes: Array[Byte],
      n: Int): DataFrame =
    docs.filter(!graft.operators.Curation.gramHit(col("text"),
      bloomBytes, n))

  /** The quality/language gate + projection shared by both corpus-clean
    * forms — ONE definition so the bounded and unbounded pipelines can
    * never drift apart (their fp-set parity claim depends on identical
    * gates). Expects `ntext`/`fp` columns (the dedup stage's output). */
  private def cleanGates(deduped: DataFrame): DataFrame = {
    import graft.functions.TextFunctions._
    deduped
      .withColumn("alpha", alphaRatio(col("ntext")))
      .withColumn("n_tok", tokenCount(col("ntext")))
      .withColumn("lang_pred", langIdHeuristic(col("ntext")))
      .filter(col("alpha") >= 0.7 && col("n_tok") >= 8 &&
        col("lang_pred") === "en")
      .select(col("doc_id"), col("fp"), col("lang_pred"), col("n_tok"),
        col("alpha"))
  }

  /** [[corpusCleanStream]] with BOUNDED dedup state — the production
    * form its docstring promises: the state store holds only
    * fingerprints younger than `dedupHorizon` in event time
    * (dropDuplicatesWithinWatermark evicts entries the watermark has
    * passed), so state size tracks the ingest rate × horizon instead
    * of the all-time distinct-document count. The semantic trade is
    * explicit and spec-pinned: a duplicate arriving MORE than the
    * horizon after its twin is re-admitted (its state was evicted) —
    * the same contract as the reference's TTL'd RocksDB dedup stores.
    * Rows must carry an event-time column. */
  def corpusCleanStreamBounded(docs: DataFrame, eventTimeCol: String,
      dedupHorizon: String): DataFrame = {
    import graft.functions.TextFunctions._
    cleanGates(docs
      .withWatermark(eventTimeCol, dedupHorizon)
      .withColumn("ntext", normalizeText(col("text")))
      .withColumn("fp", md5(col("ntext")))
      .dropDuplicatesWithinWatermark("fp"))
  }

  /** Event-time tumbling window counts with watermark — the streaming
    * form of q_tumbling_count_5m. Append mode + watermark-close is the
    * DISCARDING/default-trigger semantics (SURVEY §2.4 mapping). */
  def tumblingCounts(events: DataFrame, duration: String,
      watermarkDelay: String = "0 seconds"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), duration), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"))

  /** Session windows (30-min gap) per user, streaming form. */
  def sessionCounts(events: DataFrame, gap: String,
      watermarkDelay: String = "0 seconds"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n"))

  /** Drain a bounded stream to completion: AvailableNow consumes all
    * input, no-data micro-batches advance the watermark so closed
    * windows flush (the Samza EOS flush analog —
    * OperatorImpl.onEndOfStream:339), then stop. Returns the collected
    * sink table.
    *
    * Divergence to note: with append output, the window containing the
    * very last event stays open (watermark cannot pass max event time),
    * where Samza's EOS flush would emit it. Callers needing full flush
    * use `complete` mode aggregations or the batch path. */
  def drainToTable(spark: SparkSession, df: DataFrame,
      outputMode: String = "append"): DataFrame = {
    val name = "sink_" + UUID.randomUUID().toString.replace("-", "")
    // tmpfs checkpoint when available (StreamHarness.CheckpointScratch
    // rationale): throwaway drain-run state, and the per-batch
    // offset/commit/state fsyncs are the drain's floor
    val ckpt = StreamHarness.CheckpointScratch.fresh("sink")
    val q = df.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally StreamHarness.CheckpointScratch.delete(ckpt)
    spark.table(name)
  }
}
