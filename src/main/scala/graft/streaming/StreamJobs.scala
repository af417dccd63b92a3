package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.operators.{Classify, CorpusProfile, Curation, Dedup, LmScore,
  Retrieval, Similarity, TextProfile}

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

  /** The serve template every lookup stream writes through. Each
    * micro-batch is prepared by [[prepare]] and handed to the stream's
    * `probe`, a stored-index probe or stored-model scorer that fetches
    * its store handle through [[ModelCache]] on every batch (a quiet
    * store costs one record read; an append, rewrite or compaction
    * raises the store's generation and takes effect from the next
    * batch). The result OVERWRITES `outDir/batch_id=<id>/`.
    *
    * Replay contract: foreachBatch is at-least-once, and a replayed
    * batch rewrites its own `batch_id=` directory instead of appending
    * duplicate rows, so readers see exactly-once results through
    * partition discovery over `outDir`. Every probe is batch-local
    * (each query or document lives in one batch), so the union over
    * batches equals the batch operator over the whole input. Returns
    * the writer — the caller picks trigger and checkpoint and starts
    * it. */
  private def serve(in: DataFrame, outDir: String)(
      probe: DataFrame => DataFrame): DataStreamWriter[Row] =
    in.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      probe(prepare(batch, keepWidth = false)).write.mode("overwrite")
        .parquet(s"$outDir/batch_id=$batchId")
      ()
    }

  /** The ingest template every store-appending stream writes through.
    * Each micro-batch is prepared by [[prepare]] and, unless it is
    * empty, handed to its store kind's one append under the tag
    * `runId-batchId`, so an idle trigger commits nothing and leaves the
    * generation (and every serve's cached handle) alone.
    *
    * Tag contract: the append commits the batch's files together with
    * its tag in one store record write (`graft.store.Store.append`), so
    * a replayed committed tag is a no-op and a replayed uncommitted
    * batch first purges what its crashed attempt landed — foreachBatch's
    * at-least-once converges to exactly-once. `runId` must be fresh per
    * (checkpoint, stream) pair: a restart from the same checkpoint keeps
    * it (that is what makes a replay converge), a new run takes a new
    * one (its batch ids restart at 0). A serve beside the ingest reads
    * one record snapshot, so it sees a batch whole or not at all, and
    * committed files are never deleted outside quiesced compaction, so
    * it never observes a missing file. Appends land unsorted; quiesced
    * `Maintenance.compactAll` restores the sorted, sized layout. Returns
    * the writer — the caller picks trigger and checkpoint and starts
    * it. */
  private[graft] def ingest(in: DataFrame, runId: String)(
      append: (DataFrame, String) => Unit): DataStreamWriter[Row] =
    in.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val b = prepare(batch, keepWidth = true)
      if (!graft.plans.LocalRows.isEmpty(b)) append(b, s"$runId-$batchId")
    }

  /** Rows up to which [[prepare]] copies a micro-batch to the driver. */
  private[graft] val BatchRows = 4096

  /** The one rule for every serve and ingest micro-batch: a single
    * bounded read, `limit(BatchRows + 1).collect()` in one task, is the
    * only job run before the stream's own work (without the
    * `coalesce(1)`, a batch of many small partitions, such as an
    * open-loop stream's one per `addData`, is read in several jobs). A
    * batch of at most [[BatchRows]] rows becomes that driver copy (a
    * `LocalRelation` in min(rows, parallelism) slices; with
    * `keepWidth`, coalesced to the source's width so an append lands no
    * more files than before), so the work reads the source once and a
    * serve probing few terms or cells keeps the index operators'
    * literal In arms. A larger narrow batch (under half the
    * parallelism) is round-robin widened, since a scorer's or ingest
    * build's first stage multiplies rows before any exchange: at sf10
    * the NB serve's per-batch write took 28–40 s on one partition
    * against ~3 s wide. File and DSv2 micro-batch scans report
    * `UnknownPartitioning(0)`, which means unknown, not narrow, so the
    * width falls back to the RDD's partition count (no job) and an
    * already-wide parquet batch pays no exchange. The result is marked
    * with what the read learned (`LocalRows.isEmpty`), so no append
    * probes it again. */
  private[graft] def prepare(batch: DataFrame,
      keepWidth: Boolean): DataFrame = {
    val s = batch.sparkSession
    val p = s.sparkContext.defaultParallelism
    lazy val width =
      batch.queryExecution.executedPlan.outputPartitioning.numPartitions
        match { case 0 => batch.rdd.getNumPartitions; case n => n }
    val rows = batch.coalesce(1).limit(BatchRows + 1).collect()
    val ready =
      if (rows.length > BatchRows)
        if (width * 2 >= p) batch else batch.repartition(p)
      else {
        val local =
          s.createDataFrame(java.util.Arrays.asList(rows: _*), batch.schema)
        if (keepWidth) local.coalesce(width) else local
      }
    graft.plans.LocalRows.known(ready, empty = rows.isEmpty)
  }

  /** Streaming ANN serving ([[serve]]): each micro-batch of query
    * vectors ranks top-k against the persisted composed IVF-PQ index
    * at `indexDir` (`Similarity.IvfPqIndex`, built once by a batch job
    * and extended by [[annPqIngestStream]]). Per batch the work is
    * nlist centroid scores per query and a probe-capped scan of the
    * code table: no training, and the float corpus is never read. The
    * handle (index read and both codebook literals) is cached per
    * store generation. */
  def annLookupStream(queries: DataFrame, indexDir: String,
      outDir: String, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 0): DataStreamWriter[Row] =
    serve(queries, outDir) { batch =>
      val s = batch.sparkSession
      val ready = ModelCache.getOrLoad(s, indexDir,
          key = s"$indexDir#ivfpq#$idCol#$vecCol") {
        Similarity.ivfPqReady(
          Similarity.readIvfPqIndex(s, indexDir, idCol, vecCol))
      } (_ => ()) // nothing pinned: handle holds plans + literals
      Similarity.ivfPqTopKWithReady(batch, ready, k, nprobe)
    }

  /** [[annLookupStream]] on the PLAIN IVF unit (float vectors, no PQ
    * coding — the exact-scoring serving tier): each micro-batch of
    * (id, embedding) queries ranks against the persisted
    * `Similarity.IvfIndex` — nlist centroid scores per query and a
    * probe-capped scan of the assigned table; no training, no
    * re-clustering. Rows appended by [[annIngestStream]] or a batch
    * append are visible from the next micro-batch. */
  def ivfLookupStream(queries: DataFrame, indexDir: String,
      outDir: String, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 0): DataStreamWriter[Row] =
    serve(queries, outDir) { batch =>
      Similarity.ivfTopKWithReady(batch,
        ivfReadyCached(batch.sparkSession, indexDir, idCol, vecCol), k,
        nprobe)
    }

  /** The generation-cached [[graft.operators.Similarity.IvfReady]] handle
    * shared by [[ivfLookupStream]] and [[hybridLookupStream]]. */
  private def ivfReadyCached(s: SparkSession, indexDir: String,
      idCol: String, vecCol: String): Similarity.IvfReady =
    ModelCache.getOrLoad(s, indexDir,
        key = s"$indexDir#ivf#$idCol#$vecCol") {
      Similarity.ivfReady(
        Similarity.readIvfIndex(s, indexDir, idCol, vecCol))
    } (_ => ()) // nothing pinned: handle holds plans + literals

  /** Streaming lexical retrieval serving ([[serve]]): each micro-batch
    * of text queries ranks BM25 top-k against the persisted posting
    * index at `indexDir` (`TextProfile.Bm25Index`, built once by a
    * batch job and extended by [[bm25IngestStream]]). Per batch the
    * work is the posting lookup only — no tokenize of the corpus, no
    * tf/df recompute; the batch's terms broadcast-semi-join the posting
    * table, and a driver-local batch with few terms also pushes a
    * literal In(term) into the term-sorted posting scan. Because the
    * read takes one record snapshot, a batch sees postings, df and the
    * N/T totals of one commit. */
  def bm25LookupStream(queries: DataFrame, indexDir: String,
      outDir: String, qIdCol: String, qTextCol: String, idCol: String,
      k: Int, stopwordCut: Boolean = true): DataStreamWriter[Row] =
    serve(queries, outDir) { batch =>
      TextProfile.bm25TopKWithIndex(batch, qIdCol, qTextCol,
        bm25IndexCached(batch.sparkSession, indexDir, idCol), k,
        stopwordCut)
    }

  /** The generation-cached stored [[graft.operators.TextProfile.Bm25Index]]
    * shared by [[bm25LookupStream]] and [[hybridLookupStream]]: the
    * df partial aggregation (vocab-bounded) persists for the cache
    * entry's lifetime and releases when the store's generation moves. */
  private def bm25IndexCached(s: SparkSession, indexDir: String,
      idCol: String): TextProfile.Bm25Index =
    ModelCache.getOrLoad(s, indexDir, key = s"$indexDir#bm25#$idCol") {
      val i = TextProfile.readBm25Index(s, indexDir, idCol)
      i.copy(dfreq = i.dfreq.persist())
    } (i => { i.dfreq.unpersist(); () })

  /** Streaming benchmark decontamination ([[serve]]) against the
    * persisted decon set (`Curation.writeDeconSet`): each micro-batch of
    * DOCUMENTS probes the stored benchmark grams with a semi join and
    * lands (idCol, n_hits) — its contaminated members and their
    * distinct-gram hit counts. This is the shape a 100 TB ingest runs:
    * benchmarks are tiny and change rarely (gram extraction paid once,
    * at set-write time), corpora arrive forever, and each batch pays
    * one batch-gram explode and one broadcast-sized semi join. The
    * benchmark-bounded gram frame stays PERSISTED for the cache entry's
    * lifetime; `deconSetAppend`ed benchmarks take effect from the next
    * micro-batch. */
  def deconLookupStream(docs: DataFrame, setDir: String,
      outDir: String, idCol: String, textCol: String)
      : DataStreamWriter[Row] =
    serve(docs, outDir) { batch =>
      val (set, n) = ModelCache.getOrLoad(batch.sparkSession,
          setDir, key = s"$setDir#deconset") {
        val (g, nn) = Curation.readDeconSet(batch.sparkSession, setDir)
        (g.persist(), nn)
      } (e => { e._1.unpersist(); () })
      Curation.decontaminateWithSet(batch, set, idCol, textCol, n)
    }

  /** [[deconLookupStream]]'s EMBEDDING-SPACE twin: each micro-batch of
    * vectors probes the stored semantic decon set and lands its
    * contaminated members as (idCol, cos = max verified cosine). Catches
    * the paraphrased/translated benchmark leakage the gram probe cannot
    * see, at the same serve shape: the benchmark pack is paid once at
    * set-write time, each batch pays one narrow key pass and the
    * occupancy-bounded bucket join(s). LAYOUT-ADAPTIVE (round 18): the
    * store record's kind names the pack — a banded set
    * ([[graft.operators.Similarity.writeSemanticDeconSetBanded]], params
    * bands/rowsPerBand; the measured-recall scale path) probes through
    * the banded OR-construction, a single-band set
    * (`writeSemanticDeconSet`, param planes) through the single-pack
    * probe — so rotating a deployment to banded sets needs no serve
    * change, just a set rewrite. A banded set whose stored shape sits
    * at or past the cost crossover
    * ([[graft.operators.Similarity.bandedShapeDominated]] — bands ≥
    * 2^rowsPerBand, the low-τ regime) probes through the EXACT arm over
    * the same store's (bv, bnrm) columns instead: strictly cheaper than
    * the dominated banded probe AND recall 1.0 (round-18 finding #1). */
  def embedDeconLookupStream(vecs: DataFrame, setDir: String,
      outDir: String, idCol: String, vecCol: String,
      threshold: Double): DataStreamWriter[Row] =
    serve(vecs, outDir) { batch =>
      val s = batch.sparkSession
      // the cached value is a probe CLOSURE, which bakes in this
      // stream's parameters — so the cache key must carry them too,
      // or two streams probing one set at different thresholds (or
      // column names) would silently share the first stream's probe
      val probe = ModelCache.getOrLoad(s, setDir,
          key = s"$setDir#$idCol#$vecCol#$threshold") {
        if (graft.store.Store.require(s, setDir,
            Similarity.BandedDeconKind,
            Similarity.SemanticDeconKind).kind ==
            Similarity.BandedDeconKind) {
          val (set, dim, bands, rpb) =
            Similarity.readSemanticDeconSetBanded(s, setDir)
          if (Similarity.bandedShapeDominated(bands, rpb)) {
            // crossover dispatch (round-18 finding #1): a stored
            // shape at bands ≥ 2^rowsPerBand does MORE verify work
            // than the exact probe at recall < 1, for every
            // threshold — strictly dominated, so probe the stored
            // set's (bv, bnrm) through the exact arm instead. Band
            // 0 carries every bench vector exactly once, so the
            // slice is a narrow filter over the same store — no
            // set rewrite needed to rotate such a deployment.
            val bb = set.filter(col("band") === 0).select("bv", "bnrm")
            (b: DataFrame) => Similarity.decontaminateSemanticExactWithSet(
              b, bb, idCol, vecCol, threshold)
          } else
            (b: DataFrame) => Similarity.decontaminateSemanticBandedWithSet(
              b, set, idCol, vecCol, threshold, dim, bands, rpb)
        } else {
          val (set, dim, planes) =
            Similarity.readSemanticDeconSet(s, setDir)
          (b: DataFrame) => Similarity.decontaminateSemanticWithSet(b,
            set, idCol, vecCol, threshold, dim, planes)
        }
      } (_ => ()) // nothing pinned: the set frames are plain reads
      probe(batch)
    }

  /** Streaming LM quality scoring ([[serve]]) against the persisted
    * bigram model (`LmScore.writeModel`): each micro-batch of documents
    * scores against the STORED model (two vocab-bounded count reads,
    * partials collapsed at read — the reference corpus is never
    * touched) and lands (idCol, n_bigrams, bits, milli_bits). The
    * quality-filtering shape a 100 TB ingest runs: the reference model
    * changes rarely ([[lmIngestStream]] / `appendModel` take new
    * reference batches in O(batch)), corpora arrive forever, and scores
    * are doc-local. */
  def lmLookupStream(docs: DataFrame, modelDir: String,
      outDir: String, idCol: String, textCol: String)
      : DataStreamWriter[Row] =
    serve(docs, outDir) { batch =>
      LmScore.score(lmModelCached(batch.sparkSession, modelDir), batch,
        idCol, textCol)
    }

  /** The generation-cached stored LM model shared by [[lmLookupStream]]
    * and [[dsirLookupStream]]: re-read, and the previous model's pinned
    * backoff cache released, only when an append, write or compaction
    * raised the store's generation (round-17 finding #3). */
  private def lmModelCached(s: SparkSession, dir: String): LmScore.Model =
    ModelCache.getOrLoad(s, dir)(LmScore.readModel(s, dir))(
      LmScore.releaseBackoffCache)

  /** [[lmLookupStream]]'s WRITE-path twin ([[ingest]]): each
    * micro-batch of REFERENCE documents appends to the persisted bigram
    * model in O(batch) via `LmScore.appendModel`; a lookup stream on
    * the same dir scores against the grown reference from its next
    * micro-batch on. */
  def lmIngestStream(reference: DataFrame, modelDir: String,
      textCol: String, runId: String): DataStreamWriter[Row] =
    ingest(reference, runId)(LmScore.appendModel(_, textCol, modelDir, _))

  /** Streaming NB classification ([[serve]]) against the persisted
    * classifier model (`Classify.writeNbModel`): each micro-batch of
    * documents classifies against the STORED model (model-bounded count
    * reads, partials collapsed at read — the labeled training set is
    * never touched) and lands (idCol, label, n_tokens, bits,
    * milli_bits). The caches `Classify.classifyNb` pins release when
    * the generation moves, so the serve session holds one model's
    * pinned storage per store dir, never an accumulation. */
  def nbLookupStream(docs: DataFrame, modelDir: String,
      outDir: String, idCol: String, textCol: String)
      : DataStreamWriter[Row] =
    serve(docs, outDir) { batch =>
      val model = ModelCache.getOrLoad(batch.sparkSession, modelDir) {
        Classify.readNbModel(batch.sparkSession, modelDir)
      } (Classify.releaseNbCache)
      Classify.classifyNb(model, batch, idCol, textCol)
    }

  /** Streaming DSIR importance weighting ([[serve]]) over TWO persisted
    * bigram stores (`LmScore.writeModel`): each micro-batch of documents
    * weights against the stored target (clean/domain) and source
    * (whole-pool) models and lands (idCol, n_bigrams, target_bits,
    * source_bits, delta_bits, delta_milli_bits). This is the deployment
    * shape the DSIR paper describes and `LmScore.importanceBits`
    * documents: both models train once per pool/domain lifetime; the
    * recurring per-batch cost is one batch explode and the stored
    * vocab-bounded dim joins. The two stores are cached independently
    * (they append on independent schedules), each releasing its pinned
    * caches when its own generation moves. */
  def dsirLookupStream(docs: DataFrame, targetDir: String,
      sourceDir: String, outDir: String, idCol: String,
      textCol: String): DataStreamWriter[Row] =
    serve(docs, outDir) { batch =>
      LmScore.importanceBits(lmModelCached(batch.sparkSession, targetDir),
        lmModelCached(batch.sparkSession, sourceDir), batch, idCol,
        textCol)
    }

  /** [[nbLookupStream]]'s WRITE-path twin ([[ingest]]): each micro-batch
    * of LABELED documents appends to the persisted classifier model in
    * O(batch) via `Classify.appendNbModel`; a lookup stream on the same
    * dir classifies against the grown model from its next micro-batch
    * on. */
  def nbIngestStream(labeled: DataFrame, modelDir: String,
      labelCol: String, textCol: String, runId: String)
      : DataStreamWriter[Row] =
    ingest(labeled, runId)(
      Classify.appendNbModel(_, labelCol, textCol, modelDir, _))

  /** Streaming HYBRID retrieval serving ([[serve]]) — the composed form
    * of [[bm25LookupStream]] + [[ivfLookupStream]]: each micro-batch of
    * queries (carrying BOTH a text column and an embedding column)
    * probes the stored BM25 posting index AND the stored IVF index, and
    * the two ranked lists fuse via integer-exact RRF
    * (`Retrieval.rrfFuse`). Per batch the work is two stored-index
    * probes plus a query-batch-sized fusion — no corpus tokenize, no
    * training, the float corpus only via the IVF probe's cell join.
    * Fusion is q_id-local, so per-batch fusing equals fusing the union
    * — what lets the streaming form share the batch oracle. Both index
    * handles are the component serves' cache entries
    * ([[bm25IndexCached]] / [[ivfReadyCached]]), so a hybrid serve and a
    * single-modality serve on the same store pay one load.
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
      excludeSelf: Boolean = false): DataStreamWriter[Row] =
    serve(queries, outDir) { batch =>
      val spark = batch.sparkSession
      val bm = bm25IndexCached(spark, bm25Dir, docIdCol)
      val ivf = ivfReadyCached(spark, ivfDir, vecIdCol, qVecCol)
      val lex =
        if (excludeSelf) {
          // mirror the semantic arm's PRE-ranking exclusion: fetch
          // one extra, drop the self row, close its rank gap (at
          // most one self-match per query), truncate back to k —
          // ranks stay dense 1..k exactly as ivfTopKWithIndex's do
          val raw = TextProfile.bm25TopKWithIndex(batch, qIdCol, qTextCol,
            bm, k + 1, stopwordCut)
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
        } else TextProfile.bm25TopKWithIndex(batch, qIdCol, qTextCol, bm,
          k, stopwordCut)
      val sem = Similarity.ivfTopKWithReady(
        batch.select(col(qIdCol).as(vecIdCol), col(qVecCol)), ivf, k,
        nprobe)
      Retrieval.rrfFuse(
          Seq(lex.select(col("q_id"), col(docIdCol).as("id"), col("rank")),
            sem.select(col("q_id"), col("nn_id").as("id"), col("rank"))),
          "q_id", "id", "rank", k, k0)
        .withColumnRenamed("id", docIdCol)
    }

  /** Streaming BM25 index ingest ([[ingest]]) — the write-path twin of
    * the lookup streams: each micro-batch of documents appends to the
    * persisted BM25 posting index at `indexDir` in O(batch) via
    * `TextProfile.bm25IngestBatch` (postings, df partial and the N/T
    * contribution commit together), so a corpus streaming in is
    * searchable without an index build — a [[bm25LookupStream]] on the
    * same dir sees each batch's postings from its next micro-batch
    * on. */
  def bm25IngestStream(docs: DataFrame, indexDir: String,
      textCol: String, runId: String): DataStreamWriter[Row] =
    ingest(docs, runId)(TextProfile.bm25IngestBatch(_, textCol, indexDir, _))

  /** [[bm25IngestStream]]'s vector-side twin: each micro-batch of
    * (id, embedding) rows is assigned to the stored IVF codebook's
    * cells and appended to the persisted `assigned` table in O(batch)
    * via `Similarity.ivfIngestBatch`. The codebook is never retrained
    * here (the standard IVF append); re-train is a periodic rebuild. */
  def annIngestStream(vecs: DataFrame, indexDir: String, idCol: String,
      vecCol: String, runId: String): DataStreamWriter[Row] = {
    val codebook = new CodebookHandle(indexDir, s =>
      Similarity.ivfReady(Similarity.readIvfIndex(s, indexDir, idCol,
        vecCol)))
    ingest(vecs, runId) { (batch, tag) =>
      Similarity.ivfIngestBatch(codebook.get(batch.sparkSession), batch,
        indexDir, tag)
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
    * via `Similarity.ivfPqIngestBatch`, so the index
    * [[annLookupStream]] serves from grows in O(batch) while it
    * serves. */
  def annPqIngestStream(vecs: DataFrame, indexDir: String,
      idCol: String, vecCol: String, runId: String)
      : DataStreamWriter[Row] = {
    val codebooks = new CodebookHandle(indexDir, s =>
      Similarity.ivfPqEncoder(Similarity.readIvfPqIndex(s, indexDir,
        idCol, vecCol)))
    ingest(vecs, runId) { (batch, tag) =>
      Similarity.ivfPqIngestBatch(codebooks.get(batch.sparkSession),
        batch, indexDir, tag)
    }
  }

  /** The ingest family on the MinHash unit: each micro-batch of
    * documents is signed under the STORED banding scheme and its
    * signature rows appended via `Dedup.minhashIngestBatch` — the
    * near-dup index a concurrent `minhashLshPairsAgainstIndex` dedups
    * arriving batches against grows in O(batch). */
  def minhashIngestStream(docs: DataFrame, indexDir: String,
      idCol: String, textCol: String, runId: String)
      : DataStreamWriter[Row] =
    ingest(docs, runId)(
      Dedup.minhashIngestBatch(_, indexDir, idCol, textCol, _))

  /** The ingest family on the corpus-profile unit: each micro-batch's
    * profile partials (per-stratum counts, per-token df/tf) commit via
    * `CorpusProfile.ingestBatch`, so profile-fed consumers (rarity,
    * BM25 stats) see each batch's contribution exactly once, and the
    * corpus statistics stay current without a corpus rescan. */
  def profileIngestStream(docs: DataFrame, profileDir: String,
      idCol: String, strataCol: String, textCol: String, runId: String)
      : DataStreamWriter[Row] =
    ingest(docs, runId)(CorpusProfile.ingestBatch(_, profileDir, idCol,
      strataCol, textCol, _))

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
    docs.filter(!Curation.gramHit(col("text"),
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
