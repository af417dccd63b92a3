package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup}
import QHelp._

/** Corpus-curation pipeline stages over the `documents` table:
  * benchmark decontamination, deterministic stratified sampling,
  * per-source caps, sequence packing, dedup survivor selection. Each
  * verified against a DuckDB oracle that replays the same algorithm.
  */
object CurationQueries extends QueryPack {

  /** DuckDB: distinct word 4-grams per doc, with source carried. */
  private val oGrams4 =
    """w AS (SELECT doc_id, source,
      |        string_split_regex(trim(text), '\s+') AS w
      |      FROM documents),
      |g AS (SELECT DISTINCT doc_id, source, gram FROM (
      |  SELECT doc_id, source,
      |    unnest(list_transform(range(1, len(w)-2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))
      |      AS gram
      |  FROM w WHERE len(w) >= 4))""".stripMargin

  override def queries: Map[String, Q] = Map(

    // benchmark decontamination: docs from src0 stand in for an eval
    // benchmark; every other doc sharing a word 4-gram with it is
    // contaminated. Bench grams broadcast; the corpus never shuffles.
    "q_decontaminate" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        Curation.decontaminate(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", n = 4)
      },
      Some(s"""WITH $oGrams4,
              |bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
              |corpus AS (SELECT doc_id, gram FROM g WHERE source <> 'src0')
              |SELECT c.doc_id, count(*) AS n_hits
              |FROM corpus c JOIN bench b USING (gram)
              |GROUP BY c.doc_id
              |""".stripMargin)),

    // the decontamination stack actually SERVING: the same gram
    // check driven as a STREAM against the PERSISTED decon set —
    // Curation.writeDeconSet pays the benchmark's gram extraction
    // once, StreamJobs.deconLookupStream probes it per micro-batch
    // of arriving corpus documents with a semi join, each batch
    // overwriting its batch_id=<id> subdir. n_hits is doc-local, so
    // the cross-batch union equals the batch oracle exactly (each
    // doc lives in exactly one micro-batch) — q_stream_bm25's
    // discipline applied to the curation path, and the serve is
    // replay-safe twice over (batch_id overwrite + the semi join's
    // duplicate insensitivity).
    "q_stream_decontaminate" -> Q(
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val dir = graft.core.FsUtil.deleteOnExit(
          s"${System.getProperty("java.io.tmpdir")}/" +
            s"graft_stream_decon_p${ProcessHandle.current().pid()}_" +
            java.lang.Integer.toHexString(d.hashCode))
        val run = s"$dir/run_${System.nanoTime()}"
        val setDir = s"$dir/set"
        Curation.writeDeconSet(docs.filter(col("source") === "src0"),
          "doc_id", "text", n = 4, setDir)
        val rows = docs.filter(col("source") =!= "src0")
          .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
        implicit val sqlCtx = s.sqlContext
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val outDir = s"$run/out"
        val q = graft.streaming.StreamJobs.deconLookupStream(
            input.toDS().toDF("doc_id", "text"), setDir, outDir,
            "doc_id", "text")
          .option("checkpointLocation", s"$run/ckpt").start()
        try {
          rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { b =>
            input.addData(b); q.processAllAvailable()
          }
        } finally q.stop()
        s.read.parquet(outDir).select(col("doc_id"), col("n_hits"))
      },
      Some(s"""WITH $oGrams4,
              |bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
              |corpus AS (SELECT doc_id, gram FROM g WHERE source <> 'src0')
              |SELECT c.doc_id, count(*) AS n_hits
              |FROM corpus c JOIN bench b USING (gram)
              |GROUP BY c.doc_id
              |""".stripMargin)),

    // the same decontamination on the 100 TB scale path: bloom-filter
    // prefilter (join-free codegen'd scan filter) then the exact
    // broadcast gram join over the fpp-sized survivors only. Output is
    // identical to q_decontaminate, so it shares the oracle — the
    // exactness of the two-phase plan is itself what the gate checks.
    "q_decontaminate_bloom" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        Curation.decontaminateExactViaBloom(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", n = 4, fpp = 0.01)
      },
      Some(s"""WITH $oGrams4,
              |bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
              |corpus AS (SELECT doc_id, gram FROM g WHERE source <> 'src0')
              |SELECT c.doc_id, count(*) AS n_hits
              |FROM corpus c JOIN bench b USING (gram)
              |GROUP BY c.doc_id
              |""".stripMargin)),

    // FUZZY decontamination: corpus docs that NEAR-duplicate a src0
    // benchmark doc at shingle-Jaccard >= 0.5 — document-level match
    // strength (n_matches, max_jaccard) for wholesale-leakage
    // detection, complementing q_decontaminate's any-shared-gram
    // span flag. Rides the MinHash-LSH incremental machinery with
    // the benchmark as the tiny probe side; the corpus never
    // all-pairs and never shuffles text.
    "q_decontaminate_fuzzy" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        Curation.decontaminateFuzzy(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", n = 3, numHashes = 16, rowsPerBand = 4,
          threshold = 0.5)
      },
      Some(s"""WITH ${DedupQueries.oMinhashCtesWith(
                """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  |  FROM bands a JOIN bands b ON a.band_key = b.band_key
                  |  JOIN documents da ON da.doc_id = a.doc_id
                  |  JOIN documents db ON db.doc_id = b.doc_id
                  |  WHERE da.source = 'src0' AND db.source <> 'src0'"""
                  .stripMargin)}
              |SELECT id_b AS doc_id, count(*) AS n_matches,
              |  max(jaccard) AS max_jaccard
              |FROM jp GROUP BY id_b
              |""".stripMargin)),

    // domain-mixture composer: thin each language to its share of a
    // token budget (half the corpus's weighted-strata token mass),
    // md5-threshold row selection — the step that turns raw-crawl
    // proportions into a designed training mixture. One |strata|-row
    // agg + a narrow filter; rates derive from data, so the oracle
    // recomputes them from the same tables.
    "q_mix_domains" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val budget = docs
          .filter(col("lang").isin("en", "de", "fr", "es"))
          .agg(sum(graft.functions.TextFunctions.bpeTokenCount(col("text"))))
          .head.getLong(0) / 2
        Curation.mixDomains(docs, "lang", "text",
            weights = Map("en" -> 0.4, "de" -> 0.3, "fr" -> 0.2,
              "es" -> 0.1),
            totalTokens = budget, seedCols = Seq("doc_id", "text"))
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, lang, source, text,
             |    CAST(len(regexp_extract_all(text,
             |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok
             |  FROM documents),
             |b AS (SELECT CAST(SUM(n_tok) // 2 AS BIGINT) AS budget
             |      FROM tok WHERE lang IN ('en','de','fr','es')),
             |rt AS (
             |  SELECT lang, LEAST(CAST(1 AS DOUBLE),
             |    CAST(b.budget AS DOUBLE) *
             |    CAST(CASE lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.3
             |                   WHEN 'fr' THEN 0.2 WHEN 'es' THEN 0.1
             |                   ELSE 0.0 END AS DOUBLE) /
             |    CAST(SUM(n_tok) AS DOUBLE)) AS rate
             |  FROM tok, b GROUP BY lang, b.budget)
             |SELECT t.doc_id, t.lang, t.source
             |FROM tok t JOIN rt USING (lang)
             |WHERE rt.rate >= 1.0
             |   OR substr(md5(CAST(t.doc_id AS VARCHAR) || ':' || t.text),
             |             1, 4)
             |      < printf('%04x', CAST(floor(rt.rate * 65536) AS INT))
             |""".stripMargin)),

    // curriculum / quality-tier bucketing: decile of the alpha-ratio
    // quality score within each language — via per-stratum quantile
    // THRESHOLDS (exact percentile agg, O(distinct) state) + a
    // broadcast join + narrow assignment, never an ntile window that
    // would sort a whole stratum on one task. Thresholds rounded to 6
    // decimals on both engines so interpolation ULP wobble cannot
    // flip a 4-decimal-quantized score across a boundary.
    "q_quality_buckets" -> Q(
      (s, d) => Curation.qualityBuckets(t(s, d, "documents"),
        idCol = "doc_id", textCol = "text", strataCol = "lang",
        nBuckets = 10),
      Some("""WITH s AS (
             |  SELECT doc_id, lang,
             |    round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
             |      / CAST(length(text) AS DOUBLE), 4) AS score
             |  FROM documents),
             |th AS (
             |  SELECT lang,
             |    list_transform(
             |      quantile_cont(score, [0.1,0.2,0.3,0.4,0.5,
             |                            0.6,0.7,0.8,0.9]),
             |      x -> round(x, 6)) AS q
             |  FROM s GROUP BY lang)
             |SELECT s.doc_id, s.lang, s.score,
             |  CAST(1 + len(list_filter(th.q, x -> s.score > x))
             |    AS BIGINT) AS bucket
             |FROM s JOIN th USING (lang)
             |""".stripMargin)),

    // deterministic stratified sampling: per-language keep rates via
    // an md5 hex-prefix threshold — reproducible under reruns and
    // partitioning changes, exactly replayable by the oracle. Narrow
    // (no shuffle at all).
    "q_sample_stratified" -> Q(
      (s, d) => Curation.sampleStratified(t(s, d, "documents"),
          strataCol = "lang",
          rates = Map("en" -> 0.25, "de" -> 0.5, "fr" -> 0.5,
            "es" -> 0.75),
          defaultRate = 1.0,
          seedCols = Seq("doc_id", "text"))
        .select(col("doc_id"), col("lang"), col("source")),
      Some("""SELECT doc_id, lang, source FROM documents
             |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':' || text),
             |             1, 4) <
             |  CASE lang WHEN 'en' THEN '4000' WHEN 'de' THEN '8000'
             |            WHEN 'fr' THEN '8000' WHEN 'es' THEN 'c000'
             |            ELSE 'g' END
             |""".stripMargin)),

    // exact-k uniform sample per language: 20 rows per stratum by
    // largest content hash — deterministic quota sampling for eval /
    // calibration sets. Bounded-heap aggregate, no window.
    "q_sample_exact_k" -> Q(
      (s, d) => Curation.sampleExactK(t(s, d, "documents"),
        strataCol = "lang", idCol = "doc_id", k = 20,
        seedCols = Seq("doc_id", "text")),
      Some("""SELECT lang, doc_id FROM (
             |  SELECT lang, doc_id,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || text)
             |        DESC, doc_id ASC) AS rn
             |  FROM documents)
             |WHERE rn <= 20
             |""".stripMargin)),

    // weighted sampling (Duffield–Lund–Thorup priority sampling,
    // JACM 2007): per-language top-10 by priority = u DIV weight
    // (u = 48-bit md5 fixed point, weight = n_chars) — the
    // quality/size-weighted subsampling a mixture builder runs.
    // Deterministic, integer-exact, bounded-heap per stratum; the
    // oracle replays the exact rule.
    "q_sample_weighted" -> Q(
      (s, d) => Curation.sampleWeighted(t(s, d, "documents"),
        strataCol = "lang", idCol = "doc_id", weightCol = "n_chars",
        k = 10, seedCols = Seq("doc_id")),
      Some("""SELECT lang, doc_id FROM (
             |  SELECT lang, doc_id,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY CAST('0x' ||
             |          substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
             |          AS BIGINT) // CAST(n_chars AS BIGINT) ASC,
             |        doc_id ASC) AS rn
             |  FROM documents WHERE n_chars >= 1)
             |WHERE rn <= 10
             |""".stripMargin)),

    // per-source cap: at most 10 docs per source, smallest doc_id
    // survives — the per-domain cap a crawl pipeline applies. Runs on
    // the bounded-heap aggregate, NOT a window: map-side partial agg
    // keeps <=k rows/group/task, so a skewed source never lands on
    // one task.
    "q_source_cap" -> Q(
      (s, d) => Curation.capPerGroup(t(s, d, "documents"),
        groupCol = "source", ordCol = "doc_id", k = 10),
      Some("""SELECT source, doc_id FROM (
             |  SELECT source, doc_id,
             |    row_number() OVER (PARTITION BY source ORDER BY doc_id)
             |      AS rn
             |  FROM documents)
             |WHERE rn <= 10
             |""".stripMargin)),

    // split over-budget docs into 64-token chunks (half-open token
    // spans): the complement of q_pack_sequences — pack what fits,
    // split what doesn't. Pure narrow explode, no shuffle.
    "q_chunk_sequences" -> Q(
      (s, d) => Curation.chunkSequences(t(s, d, "documents"),
        idCol = "doc_id", textCol = "text", budget = 64),
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |    CAST(len(regexp_extract_all(text,
             |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok
             |  FROM documents)
             |SELECT doc_id, n_tok,
             |  unnest(range(0, (n_tok - 1) // 64 + 1)) AS chunk_id,
             |  unnest(range(0, (n_tok - 1) // 64 + 1)) * 64 AS tok_start,
             |  LEAST(n_tok,
             |    (unnest(range(0, (n_tok - 1) // 64 + 1)) + 1) * 64)
             |    AS tok_end
             |FROM tok WHERE n_tok > 0
             |""".stripMargin)),

    // overlapping chunking (the RAG / long-context window shape):
    // 64-token windows every 32 tokens — consecutive chunks share 32
    // tokens of context so no span near a boundary is lost; chunk
    // count = 1 + ceil(max(0, n_tok-64)/32), last window reaches the
    // end. Pure narrow explode; integer ceil division (no double
    // wobble at large counts).
    "q_chunk_overlap" -> Q(
      (s, d) => Curation.chunkSequencesOverlap(t(s, d, "documents"),
        idCol = "doc_id", textCol = "text", budget = 64, stride = 32),
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |    CAST(len(regexp_extract_all(text,
             |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok
             |  FROM documents)
             |SELECT doc_id, n_tok,
             |  unnest(range(0,
             |    (greatest(n_tok - 64, 0) + 31) // 32 + 1)) AS chunk_id,
             |  unnest(range(0,
             |    (greatest(n_tok - 64, 0) + 31) // 32 + 1)) * 32
             |    AS tok_start,
             |  LEAST(n_tok,
             |    unnest(range(0,
             |      (greatest(n_tok - 64, 0) + 31) // 32 + 1)) * 32 + 64)
             |    AS tok_end
             |FROM tok WHERE n_tok > 0
             |""".stripMargin)),

    // train/test LEAKAGE report — the eval-hygiene composition: split
    // the corpus with the frozen md5-boundary rule, then run the
    // 4-gram decontamination check from the TEST split against the
    // TRAIN split. Output = every train doc sharing a 4-gram with any
    // test doc, with its shared-gram count: the report a pipeline
    // audits BEFORE training. NOT decontaminate(): that path
    // force-broadcasts its benchmark side (tiny eval sets), while a
    // 10%-of-corpus test split's gram table is corpus-fraction-sized
    // — the gramSet + semi-join probe lets Catalyst pick the join
    // from the set's actual size.
    "q_split_leakage" -> Q(
      (s, d) => {
        val sp = Curation.assignSplits(t(s, d, "documents"),
          seedCols = Seq("doc_id", "text"),
          splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        Curation.decontaminateWithSet(
          sp.filter(col("split") === "train"),
          Curation.gramSet(sp.filter(col("split") === "test"),
            "doc_id", "text", n = 4),
          "doc_id", "text", n = 4)
      },
      Some("""WITH sp AS (
             |  SELECT doc_id, text,
             |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
             |           text), 1, 4) < 'cccc' THEN 'train'
             |         WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
             |           text), 1, 4) < 'e666' THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM documents),
             |w AS (SELECT doc_id, split,
             |        string_split_regex(trim(text), '\s+') AS wl
             |      FROM sp),
             |g AS (SELECT DISTINCT doc_id, split, gram FROM (
             |  SELECT doc_id, split,
             |    unnest(list_transform(range(1, len(wl)-2), i ->
             |      wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2] || ' '
             |        || wl[i+3])) AS gram
             |  FROM w WHERE len(wl) >= 4)),
             |bench AS (SELECT DISTINCT gram FROM g WHERE split = 'test'),
             |corpus AS (SELECT doc_id, gram FROM g WHERE split = 'train')
             |SELECT c.doc_id, count(*) AS n_hits
             |FROM corpus c JOIN bench b USING (gram)
             |GROUP BY c.doc_id
             |""".stripMargin)),

    // contiguous sequence packing into 256-token bins, parallel over
    // (lang, doc_id % 8) shards — the explicit-shard shape that keeps
    // packing parallel when one language dominates the corpus.
    "q_pack_sequences" -> Q(
      (s, d) => Curation.packSequences(t(s, d, "documents"),
        idCol = "doc_id", textCol = "text", strataCol = "lang",
        budget = 256, numShards = 8),
      Some("""WITH tok AS (
             |  SELECT doc_id, lang, doc_id % 8 AS shard,
             |    CAST(len(regexp_extract_all(text,
             |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok
             |  FROM documents)
             |SELECT doc_id, lang, shard, n_tok,
             |  CAST(floor((SUM(n_tok) OVER (PARTITION BY lang, shard
             |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
             |    CURRENT ROW) - n_tok) / 256.0) AS BIGINT) AS seq_id
             |FROM tok
             |""".stripMargin)),

    // the composed curation pipeline a training-data job runs, one
    // plan: decontaminate (drop docs sharing a 4-gram with the src0
    // benchmark) -> deterministic stratified sample -> pack into
    // 256-token sequences. Broadcast anti-join + narrow filter + one
    // sharded window: the shape that curates 100 TB end to end.
    "q_pipeline_curation" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val corpus = docs.filter(col("source") =!= "src0")
        val contaminated = Curation.decontaminate(corpus,
            docs.filter(col("source") === "src0"), "doc_id", "text", n = 4)
          .select("doc_id")
        val clean = corpus.join(broadcast(contaminated), Seq("doc_id"),
          "left_anti")
        val sampled = Curation.sampleStratified(clean, "lang",
          Map("en" -> 0.5), defaultRate = 1.0,
          seedCols = Seq("doc_id", "text"))
        Curation.packSequences(sampled, "doc_id", "text", "lang",
          budget = 256, numShards = 8)
      },
      Some(s"""WITH $oGrams4,
              |bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
              |contaminated AS (
              |  SELECT DISTINCT c.doc_id
              |  FROM (SELECT doc_id, gram FROM g WHERE source <> 'src0') c
              |  JOIN bench b USING (gram)),
              |clean AS (
              |  SELECT doc_id, lang, text FROM documents
              |  WHERE source <> 'src0'
              |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
              |sampled AS (
              |  SELECT doc_id, lang, text FROM clean
              |  WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':' || text),
              |               1, 4) <
              |    CASE lang WHEN 'en' THEN '8000' ELSE 'g' END),
              |tok AS (
              |  SELECT doc_id, lang, doc_id % 8 AS shard,
              |    CAST(len(regexp_extract_all(text,
              |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tok
              |  FROM sampled)
              |SELECT doc_id, lang, shard, n_tok,
              |  CAST(floor((SUM(n_tok) OVER (PARTITION BY lang, shard
              |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
              |    CURRENT ROW) - n_tok) / 256.0) AS BIGINT) AS seq_id
              |FROM tok
              |""".stripMargin)),

    // the full pretrain curation chain, one query: near-dup dedup
    // keeping the BEST-quality copy per cluster (survivorsBest) ->
    // benchmark decontamination (broadcast anti join) -> per-language
    // quality quartiles, keep the top half -> deterministic training
    // order. Every stage is the scale-shaped form: bounded-heap
    // argmax, broadcast gram semi-join, threshold-table bucketing,
    // per-shard sorts — the end-to-end plan a 100 TB pretrain corpus
    // job runs.
    "q_pipeline_pretrain" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val scored = docs.select(col("doc_id"), col("lang"),
          col("source"), col("text"),
          graft.functions.TextFunctions.alphaRatio(col("text"))
            .as("score"))
        // stage boundaries PERSISTED: later stages reference each
        // frame 2-3 times and Spark reuses only identical exchanges,
        // so the unpersisted form recomputes the shared prefix per
        // reference (ProfilePretrain: 98.7 vs 79.4 s at sf10; the
        // linter's MULTI_SCAN flag is this exact symptom). The
        // harness clears the session cache after the query.
        val deduped = Curation.survivorsBest(scored, "doc_id", "score",
          Dedup.dupClusters(Dedup.minhashLshPairs(docs, "doc_id",
            "text", n = 3, numHashes = 16, rowsPerBand = 4,
            threshold = 0.5))).persist()
        val corpus = deduped.filter(col("source") =!= "src0")
        val contaminated = Curation.decontaminate(corpus,
            docs.filter(col("source") === "src0"), "doc_id", "text",
            n = 4)
          .select("doc_id")
        val clean = corpus.join(broadcast(contaminated), Seq("doc_id"),
          "left_anti").persist()
        val buckets = Curation.qualityBuckets(clean, "doc_id", "text",
            "lang", nBuckets = 4)
          .filter(col("bucket") >= 3)
          .select(col("doc_id"), col("bucket"))
        val kept = clean.join(buckets, Seq("doc_id")).persist()
        Curation.trainOrder(kept, "doc_id", Seq("doc_id", "text"),
            numShards = 8)
          .join(kept.select(col("doc_id"), col("lang"), col("bucket")),
            Seq("doc_id"))
      },
      Some(s"""WITH RECURSIVE ${DedupQueries.oMinhashCtes},
              |edges AS (
              |  SELECT id_a AS src, id_b AS dst FROM jp
              |  UNION
              |  SELECT id_b AS src, id_a AS dst FROM jp),
              |nodes AS (SELECT DISTINCT src AS id FROM edges),
              |reach(src, dst) AS (
              |  SELECT id, id FROM nodes
              |  UNION
              |  SELECT r.src, e.dst FROM reach r
              |  JOIN edges e ON r.dst = e.src),
              |clusters AS MATERIALIZED (
              |  SELECT src AS doc_id, min(dst) AS cluster_id
              |  FROM reach GROUP BY src),
              |qsc AS (
              |  SELECT doc_id,
              |    round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
              |      / CAST(length(text) AS DOUBLE), 4) AS score
              |  FROM documents),
              |best AS (
              |  SELECT doc_id FROM (
              |    SELECT c.doc_id,
              |      row_number() OVER (PARTITION BY c.cluster_id
              |        ORDER BY qsc.score DESC, c.doc_id ASC) AS rn
              |    FROM clusters c JOIN qsc USING (doc_id))
              |  WHERE rn = 1),
              |corp AS MATERIALIZED (
              |  SELECT doc_id, lang, text FROM documents d
              |  WHERE d.source <> 'src0'
              |    AND (d.doc_id NOT IN (SELECT doc_id FROM clusters)
              |      OR d.doc_id IN (SELECT doc_id FROM best))),
              |gw AS (SELECT doc_id,
              |         string_split_regex(trim(text), '\\s+') AS wl
              |       FROM corp),
              |gg AS (SELECT DISTINCT doc_id, gram FROM (
              |  SELECT doc_id,
              |    unnest(list_transform(range(1, len(wl)-2), i ->
              |      wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2] || ' '
              |        || wl[i+3])) AS gram
              |  FROM gw WHERE len(wl) >= 4)),
              |bw AS (SELECT doc_id,
              |         string_split_regex(trim(text), '\\s+') AS wl
              |       FROM documents WHERE source = 'src0'),
              |bg AS (SELECT DISTINCT gram FROM (
              |  SELECT unnest(list_transform(range(1, len(wl)-2), i ->
              |      wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2] || ' '
              |        || wl[i+3])) AS gram
              |  FROM bw WHERE len(wl) >= 4)),
              |cont AS (SELECT DISTINCT gg.doc_id
              |         FROM gg JOIN bg USING (gram)),
              |clean AS MATERIALIZED (
              |  SELECT corp.*,
              |    round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
              |      / CAST(length(text) AS DOUBLE), 4) AS score
              |  FROM corp
              |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
              |th AS (
              |  SELECT lang,
              |    list_transform(quantile_cont(score, [0.25,0.5,0.75]),
              |      x -> round(x, 6)) AS q
              |  FROM clean GROUP BY lang),
              |kept AS (
              |  SELECT clean.doc_id, clean.lang, clean.text,
              |    CAST(1 + len(list_filter(th.q, x -> clean.score > x))
              |      AS BIGINT) AS bucket
              |  FROM clean JOIN th USING (lang)
              |  WHERE CAST(1 + len(list_filter(th.q,
              |    x -> clean.score > x)) AS BIGINT) >= 3)
              |SELECT doc_id, lang, bucket, doc_id % 8 AS shard,
              |  CAST(row_number() OVER (PARTITION BY doc_id % 8
              |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || text),
              |             doc_id) AS BIGINT) AS pos
              |FROM kept
              |""".stripMargin)),

    // the CCNet curation chain END TO END FROM STORED ARTIFACTS —
    // the deployment shape: the decontamination set and the bigram
    // LM are persisted units built once (paid per benchmark / per
    // reference-corpus lifetime), and the corpus pass composes
    // near-dup survivor selection (best alpha-ratio copy per minhash
    // cluster) -> stored-set decontamination (semi-join probe) ->
    // stored-model LM scoring (CCNet's perplexity tiering as integer
    // milli-bits; keep the head+middle terciles per language) ->
    // domain-mixture thinning to a token budget -> deterministic
    // training order. Stage boundaries persisted (q_pipeline_pretrain
    // discipline: later stages reference each frame 2-3 times; the
    // harness clears the session cache per query). The oracle replays
    // the WHOLE chain: minhash clusters, gram semi-join, the bitlen
    // cross-entropy, tercile thresholds, mixture rates, md5 order.
    "q_pipeline_ccnet" -> Q(
      (s, d) => {
        import graft.operators.LmScore
        val docs = t(s, d, "documents")
        val root = graft.core.FsUtil.deleteOnExit(
          s"${System.getProperty("java.io.tmpdir")}/" +
            s"graft_ccnet_p${ProcessHandle.current().pid()}_" +
            java.lang.Integer.toHexString(d.hashCode))
        val deconDir = s"$root/decon"
        val modelDir = s"$root/model"
        Curation.writeDeconSet(docs.filter(col("source") === "src0"),
          "doc_id", "text", n = 4, deconDir)
        LmScore.writeModel(docs.filter(col("lang") === "en"), "text",
          modelDir)
        // serve-state certification: both writers land COMPACTED
        // stores by construction (sorted sized files + a store record), and
        // this maintenance pass verifies it — inspect, find no
        // drift, re-pack nothing — so the chain reads its stores
        // through the same post-compaction gate a deployment's serve
        // does after its maintenance window
        val reports = graft.operators.Maintenance.compactAll(s,
          Seq(deconDir, modelDir))
        require(reports.values.forall(!_.compacted),
          s"ccnet stores drifted at write time: $reports")
        val scored = docs.select(col("doc_id"), col("lang"),
          col("source"), col("text"),
          graft.functions.TextFunctions.alphaRatio(col("text"))
            .as("score"))
        val deduped = Curation.survivorsBest(scored, "doc_id", "score",
          Dedup.dupClusters(Dedup.minhashLshPairs(docs, "doc_id",
            "text", n = 3, numHashes = 16, rowsPerBand = 4,
            threshold = 0.5))).persist()
        val corpus = deduped.filter(col("source") =!= "src0")
        val contaminated = Curation.decontaminateWithSet(corpus,
            Curation.readDeconSet(s, deconDir)._1, "doc_id", "text",
            n = 4)
          .select("doc_id")
        // no broadcast hint: `contaminated` is an OUTPUT of a
        // corpus-sized computation (tiny when the benchmark overlap
        // is small, unbounded in principle) — AQE sizes the anti-join
        // side at runtime, the same rule q_split_leakage documents
        // for its corpus-fraction-sized gram table
        val clean = corpus.join(contaminated, Seq("doc_id"),
          "left_anti").persist()
        val milli = LmScore.score(LmScore.readModel(s, modelDir),
            clean, "doc_id", "text")
          .join(clean.select(col("doc_id"), col("lang")), Seq("doc_id"))
        val gated = Curation.scoreBuckets(milli, "doc_id",
            "milli_bits", "lang", nBuckets = 3)
          .filter(col("bucket") <= 2)
          .select(col("doc_id"), col("bucket"))
        val kept = clean.join(gated, Seq("doc_id")).persist()
        val budgetRow = kept
          .filter(col("lang").isin("en", "de", "fr", "es"))
          .agg(sum(graft.functions.TextFunctions
            .bpeTokenCount(col("text")))).head()
        val budget =
          (if (budgetRow.isNullAt(0)) 0L else budgetRow.getLong(0)) / 2
        val mixed = Curation.mixDomains(kept, "lang", "text",
          weights = Map("en" -> 0.4, "de" -> 0.3, "fr" -> 0.2,
            "es" -> 0.1),
          totalTokens = budget, seedCols = Seq("doc_id", "text"))
          .persist()
        Curation.trainOrder(mixed, "doc_id", Seq("doc_id", "text"),
            numShards = 8)
          .join(mixed.select(col("doc_id"), col("lang"), col("bucket")),
            Seq("doc_id"))
      },
      Some(s"""WITH RECURSIVE ${DedupQueries.oMinhashCtes},
              |edges AS (
              |  SELECT id_a AS src, id_b AS dst FROM jp
              |  UNION
              |  SELECT id_b AS src, id_a AS dst FROM jp),
              |nodes AS (SELECT DISTINCT src AS id FROM edges),
              |reach(src, dst) AS (
              |  SELECT id, id FROM nodes
              |  UNION
              |  SELECT r.src, e.dst FROM reach r
              |  JOIN edges e ON r.dst = e.src),
              |clusters AS MATERIALIZED (
              |  SELECT src AS doc_id, min(dst) AS cluster_id
              |  FROM reach GROUP BY src),
              |qsc AS (
              |  SELECT doc_id,
              |    round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
              |      / CAST(length(text) AS DOUBLE), 4) AS score
              |  FROM documents),
              |best AS (
              |  SELECT doc_id FROM (
              |    SELECT c.doc_id,
              |      row_number() OVER (PARTITION BY c.cluster_id
              |        ORDER BY qsc.score DESC, c.doc_id ASC) AS rn
              |    FROM clusters c JOIN qsc USING (doc_id))
              |  WHERE rn = 1),
              |corp AS MATERIALIZED (
              |  SELECT doc_id, lang, text FROM documents d
              |  WHERE d.source <> 'src0'
              |    AND (d.doc_id NOT IN (SELECT doc_id FROM clusters)
              |      OR d.doc_id IN (SELECT doc_id FROM best))),
              |gw AS (SELECT doc_id,
              |         string_split_regex(trim(text), '\\s+') AS wl
              |       FROM corp),
              |gg AS (SELECT DISTINCT doc_id, gram FROM (
              |  SELECT doc_id,
              |    unnest(list_transform(range(1, len(wl)-2), i ->
              |      wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2] || ' '
              |        || wl[i+3])) AS gram
              |  FROM gw WHERE len(wl) >= 4)),
              |bw AS (SELECT doc_id,
              |         string_split_regex(trim(text), '\\s+') AS wl
              |       FROM documents WHERE source = 'src0'),
              |bg AS (SELECT DISTINCT gram FROM (
              |  SELECT unnest(list_transform(range(1, len(wl)-2), i ->
              |      wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2] || ' '
              |        || wl[i+3])) AS gram
              |  FROM bw WHERE len(wl) >= 4)),
              |cont AS (SELECT DISTINCT gg.doc_id
              |         FROM gg JOIN bg USING (gram)),
              |clean AS MATERIALIZED (
              |  SELECT doc_id, lang, text FROM corp
              |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
              |lw AS (
              |  SELECT doc_id, lang,
              |         string_split_regex(trim(text), '\\s+') AS w
              |  FROM documents),
              |v AS (SELECT count(DISTINCT tk) AS v FROM (
              |        SELECT unnest(w) AS tk FROM lw WHERE lang = 'en')),
              |tb AS (
              |  SELECT
              |    unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
              |    unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS w2
              |  FROM lw WHERE lang = 'en' AND len(w) >= 2),
              |c12 AS (SELECT w1, w2, count(*) AS c12 FROM tb GROUP BY 1, 2),
              |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
              |       FROM c12 GROUP BY 1),
              |db AS (
              |  SELECT lw.doc_id,
              |    unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
              |    unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS w2
              |  FROM lw JOIN (SELECT doc_id FROM clean) cl USING (doc_id)
              |  WHERE len(w) >= 2),
              |sc AS MATERIALIZED (
              |  SELECT doc_id,
              |    CAST(sum(cost) AS BIGINT) * 1000 // count(*) AS milli
              |  FROM (
              |    SELECT d.doc_id,
              |      len(bin(coalesce(c1.c1, 0) + (SELECT v FROM v))) -
              |      len(bin(coalesce(c12.c12, 0) + 1)) AS cost
              |    FROM db d LEFT JOIN c12 USING (w1, w2)
              |              LEFT JOIN c1 USING (w1))
              |  GROUP BY doc_id),
              |th AS MATERIALIZED (
              |  SELECT clean.lang,
              |    list_transform(quantile_cont(sc.milli, [1.0/3, 2.0/3]),
              |      x -> round(x, 6)) AS q
              |  FROM sc JOIN clean USING (doc_id) GROUP BY clean.lang),
              |gated AS MATERIALIZED (
              |  SELECT sc.doc_id, clean.lang, clean.text,
              |    CAST(1 + len(list_filter(th.q, x -> sc.milli > x))
              |      AS BIGINT) AS bucket
              |  FROM sc JOIN clean USING (doc_id) JOIN th USING (lang)
              |  WHERE CAST(1 + len(list_filter(th.q,
              |    x -> sc.milli > x)) AS BIGINT) <= 2),
              |tok AS MATERIALIZED (
              |  SELECT doc_id, lang, bucket, text,
              |    CAST(len(regexp_extract_all(text,
              |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tok
              |  FROM gated),
              |b AS (SELECT CAST(SUM(n_tok) // 2 AS BIGINT) AS budget
              |      FROM tok WHERE lang IN ('en','de','fr','es')),
              |rt AS (
              |  SELECT lang, LEAST(CAST(1 AS DOUBLE),
              |    CAST(b.budget AS DOUBLE) *
              |    CAST(CASE lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.3
              |                   WHEN 'fr' THEN 0.2 WHEN 'es' THEN 0.1
              |                   ELSE 0.0 END AS DOUBLE) /
              |    CAST(SUM(n_tok) AS DOUBLE)) AS rate
              |  FROM tok, b GROUP BY lang, b.budget),
              |mixed AS MATERIALIZED (
              |  SELECT t.doc_id, t.lang, t.bucket, t.text
              |  FROM tok t JOIN rt USING (lang)
              |  WHERE rt.rate >= 1.0
              |     OR substr(md5(CAST(t.doc_id AS VARCHAR) || ':' || t.text),
              |               1, 4)
              |        < printf('%04x', CAST(floor(rt.rate * 65536) AS INT)))
              |SELECT doc_id, lang, bucket, doc_id % 8 AS shard,
              |  CAST(row_number() OVER (PARTITION BY doc_id % 8
              |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || text),
              |             doc_id) AS BIGINT) AS pos
              |FROM mixed
              |""".stripMargin)),

    // the CLASSIFIER-GATED curation chain — the CCNet/GPT-3 "quality
    // classifier" arm the NB stack exists for, composed end to end
    // from stored artifacts like q_pipeline_ccnet (whose LM-tercile
    // filter this replaces with a margin-thresholded NB decision):
    // NB model store built in-chain (trained on the even-doc_id
    // labeled half, the classifier gate convention) -> margin
    // classification of every document -> minhash-LSH near-dup
    // clusters keep their most CONFIDENTLY-classified copy (margin as
    // the survivor score: of two near-identical docs, keep the one
    // the classifier is surest about) -> keep only confident
    // non-benchmark docs (margin_bits >= 1, i.e. strictly not a tie;
    // source != src0) -> stored-set decontamination drops anything
    // sharing a 4-gram with the benchmark. Stage boundaries persisted
    // (the ProfilePretrain rule); the oracle replays the whole chain:
    // NB integer-bit costs, the margin rank, minhash clusters, the
    // survivor pick, the gram semi-join.
    "q_pipeline_classified" -> Q(
      (s, d) => {
        import graft.operators.{Classify, Maintenance}
        val docs = t(s, d, "documents")
        val root = graft.core.FsUtil.deleteOnExit(
          s"${System.getProperty("java.io.tmpdir")}/" +
            s"graft_classified_p${ProcessHandle.current().pid()}_" +
            java.lang.Integer.toHexString(d.hashCode))
        val modelDir = s"$root/model"
        val deconDir = s"$root/decon"
        Classify.writeNbModel(docs.filter(col("doc_id") % 2 === 0),
          "source", "text", modelDir)
        Curation.writeDeconSet(docs.filter(col("source") === "src0"),
          "doc_id", "text", n = 4, deconDir)
        // serve-state certification (the ccnet rule): both writers
        // land compacted stores; the maintenance pass verifies it
        val reports = Maintenance.compactAll(s,
          Seq(modelDir, deconDir))
        require(reports.values.forall(!_.compacted),
          s"classified stores drifted at write time: $reports")
        val margined = Classify.classifyNbWithMargin(
            Classify.readNbModel(s, modelDir), docs, "doc_id", "text")
          .select(col("doc_id"), col("label"), col("margin_bits"))
        val scored = docs.select(col("doc_id"), col("source"),
            col("text"))
          .join(margined, Seq("doc_id")).persist()
        val survivors = Curation.survivorsBest(scored, "doc_id",
          "margin_bits",
          Dedup.dupClusters(Dedup.minhashLshPairs(docs, "doc_id",
            "text", n = 3, numHashes = 16, rowsPerBand = 4,
            threshold = 0.5)))
        val corpus = survivors.filter(col("source") =!= "src0" &&
          col("margin_bits") >= 1).persist()
        val contaminated = Curation.decontaminateWithSet(corpus,
            Curation.readDeconSet(s, deconDir)._1, "doc_id", "text",
            n = 4)
          .select("doc_id")
        // no broadcast hint on the anti join: `contaminated` is the
        // OUTPUT of a corpus-sized computation — AQE sizes it (the
        // q_pipeline_ccnet rule)
        corpus.join(contaminated, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("label"), col("margin_bits"))
      },
      Some(s"""WITH RECURSIVE ${DedupQueries.oMinhashCtes},
              |edges AS (
              |  SELECT id_a AS src, id_b AS dst FROM jp
              |  UNION
              |  SELECT id_b AS src, id_a AS dst FROM jp),
              |nodes AS (SELECT DISTINCT src AS id FROM edges),
              |reach(src, dst) AS (
              |  SELECT id, id FROM nodes
              |  UNION
              |  SELECT r.src, e.dst FROM reach r
              |  JOIN edges e ON r.dst = e.src),
              |clusters AS MATERIALIZED (
              |  SELECT src AS doc_id, min(dst) AS cluster_id
              |  FROM reach GROUP BY src),
              |${ClassifyQueries.oCostsBody},
              |rr AS (
              |  SELECT doc_id, label, bits,
              |    row_number() OVER (PARTITION BY doc_id
              |                       ORDER BY bits, label) AS rn
              |  FROM costs),
              |mg AS MATERIALIZED (
              |  SELECT r1.doc_id, r1.label,
              |    CAST(coalesce(r2.bits - r1.bits, 0) AS BIGINT)
              |      AS margin_bits
              |  FROM rr r1 LEFT JOIN rr r2
              |    ON r1.doc_id = r2.doc_id AND r2.rn = 2
              |  WHERE r1.rn = 1),
              |best AS (
              |  SELECT doc_id FROM (
              |    SELECT c.doc_id,
              |      row_number() OVER (PARTITION BY c.cluster_id
              |        ORDER BY mg.margin_bits DESC, c.doc_id ASC) AS rn
              |    FROM clusters c JOIN mg USING (doc_id))
              |  WHERE rn = 1),
              |corp AS MATERIALIZED (
              |  SELECT d.doc_id, mg.label, mg.margin_bits, d.text
              |  FROM documents d JOIN mg USING (doc_id)
              |  WHERE d.source <> 'src0' AND mg.margin_bits >= 1
              |    AND (d.doc_id NOT IN (SELECT doc_id FROM clusters)
              |      OR d.doc_id IN (SELECT doc_id FROM best))),
              |gw AS (SELECT doc_id,
              |         string_split_regex(trim(text), '\\s+') AS wl
              |       FROM corp),
              |gg AS (SELECT DISTINCT doc_id, gram FROM (
              |  SELECT doc_id,
              |    unnest(list_transform(range(1, len(wl)-2), i ->
              |      wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2] || ' '
              |        || wl[i+3])) AS gram
              |  FROM gw WHERE len(wl) >= 4)),
              |bw AS (SELECT doc_id,
              |         string_split_regex(trim(text), '\\s+') AS wl
              |       FROM documents WHERE source = 'src0'),
              |bg AS (SELECT DISTINCT gram FROM (
              |  SELECT unnest(list_transform(range(1, len(wl)-2), i ->
              |      wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2] || ' '
              |        || wl[i+3])) AS gram
              |  FROM bw WHERE len(wl) >= 4)),
              |cont AS (SELECT DISTINCT gg.doc_id
              |         FROM gg JOIN bg USING (gram))
              |SELECT doc_id, label, margin_bits FROM corp
              |WHERE doc_id NOT IN (SELECT doc_id FROM cont)
              |""".stripMargin)),

    // PII redaction: mask emails / IPv4s / phone-shaped numbers and
    // count matches per pattern — RE2-compatible patterns by
    // construction, so the oracle replays the masking bit-for-bit.
    // Counts replay the operator's progressive semantics: each
    // pattern counted on the text with every EARLIER pattern already
    // masked (so a dotted IP never inflates n_phone). (The synthetic
    // corpus contains no PII, so counts are zero here and the real
    // semantics are spec-gated on planted rows — CurationSpec; the
    // oracle still gates schema + the replay plumbing end to end.)
    "q_pii_mask" -> Q(
      (s, d) => Curation.maskPii(t(s, d, "documents"), "doc_id",
        "text"),
      Some {
        val (masked, counts) = Curation.PiiPatterns
          .foldLeft(("text", Seq.empty[String])) {
            case ((e, cs), (nm, pat, repl)) =>
              val cnt = s"CAST(len(regexp_extract_all($e, '$pat')) " +
                s"AS BIGINT) AS n_$nm"
              (s"regexp_replace($e, '$pat', '$repl', 'g')", cs :+ cnt)
          }
        s"SELECT doc_id,\n  $masked AS masked,\n  " +
          counts.mkString(",\n  ") + "\nFROM documents\n"
      }),

    // deterministic train/val/test split: content-hash boundaries at
    // the cumulative weights (80/10/10). Disjoint + total by
    // construction; adding docs never moves an existing one across
    // splits (frozen eval sets under corpus growth). Pure narrow.
    "q_train_split" -> Q(
      (s, d) => Curation.assignSplits(t(s, d, "documents"),
          seedCols = Seq("doc_id", "text"),
          splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("lang"), col("split")),
      // boundaries: floor(0.8*65536)=0xcccc, floor(0.9*65536)=0xe666
      Some("""SELECT doc_id, lang,
             |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':' || text),
             |         1, 4) < 'cccc' THEN 'train'
             |       WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':' || text),
             |         1, 4) < 'e666' THEN 'val'
             |       ELSE 'test' END AS split
             |FROM documents
             |""".stripMargin)),

    // deterministic training order ("global shuffle"): content-hash
    // rank within id-hash shards — reproducible across reruns and
    // partitionings, numShards parallel sorts, never a global sort.
    "q_train_order" -> Q(
      (s, d) => Curation.trainOrder(t(s, d, "documents"),
        idCol = "doc_id", seedCols = Seq("doc_id", "text"),
        numShards = 8),
      Some("""SELECT doc_id, doc_id % 8 AS shard,
             |  CAST(row_number() OVER (PARTITION BY doc_id % 8
             |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || text),
             |             doc_id) AS BIGINT) AS pos
             |FROM documents
             |""".stripMargin)),

    // quality-preferring survivor selection: same clusters as
    // q_dedup_survivors, but each cluster keeps its BEST-quality
    // member (alpha-ratio score, ties -> smallest id) instead of the
    // smallest id — near-dups are rarely byte-identical, and the
    // pipeline should keep the clean copy. Per-cluster argmax on the
    // bounded-heap k=1 aggregate, never a window sort.
    "q_dedup_survivors_best" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val scored = docs.select(col("doc_id"), col("lang"),
          col("source"),
          graft.functions.TextFunctions.alphaRatio(col("text"))
            .as("score"))
        Curation.survivorsBest(scored, "doc_id", "score",
            Dedup.dupClusters(Dedup.minhashLshPairs(docs, "doc_id",
              "text", n = 3, numHashes = 16, rowsPerBand = 4,
              threshold = 0.5)))
          .select("doc_id", "lang", "source")
      },
      Some(s"""WITH RECURSIVE ${DedupQueries.oMinhashCtes},
              |edges AS (
              |  SELECT id_a AS src, id_b AS dst FROM jp
              |  UNION
              |  SELECT id_b AS src, id_a AS dst FROM jp),
              |nodes AS (SELECT DISTINCT src AS id FROM edges),
              |reach(src, dst) AS (
              |  SELECT id, id FROM nodes
              |  UNION
              |  SELECT r.src, e.dst FROM reach r
              |  JOIN edges e ON r.dst = e.src),
              |clusters AS MATERIALIZED (
              |  SELECT src AS doc_id, min(dst) AS cluster_id
              |  FROM reach GROUP BY src),
              |qsc AS (
              |  SELECT doc_id,
              |    round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
              |      / CAST(length(text) AS DOUBLE), 4) AS score
              |  FROM documents),
              |best AS (
              |  SELECT doc_id FROM (
              |    SELECT c.doc_id,
              |      row_number() OVER (PARTITION BY c.cluster_id
              |        ORDER BY qsc.score DESC, c.doc_id ASC) AS rn
              |    FROM clusters c JOIN qsc USING (doc_id))
              |  WHERE rn = 1)
              |SELECT d.doc_id, d.lang, d.source FROM documents d
              |WHERE d.doc_id NOT IN (SELECT doc_id FROM clusters)
              |   OR d.doc_id IN (SELECT doc_id FROM best)
              |""".stripMargin)),

    // end-to-end dedup: MinHash+LSH pairs -> clusters -> keep only
    // canonical members. The step that turns near-dup detection into
    // a deduplicated corpus; anti join on the id (never assumes the
    // drop set broadcasts).
    "q_dedup_survivors" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        Curation.survivors(docs.select("doc_id", "lang", "source"),
          "doc_id",
          Dedup.dupClusters(Dedup.minhashLshPairs(docs, "doc_id", "text",
            n = 3, numHashes = 16, rowsPerBand = 4, threshold = 0.5)))
      },
      Some(s"""WITH RECURSIVE ${DedupQueries.oMinhashCtes},
              |edges AS (
              |  SELECT id_a AS src, id_b AS dst FROM jp
              |  UNION
              |  SELECT id_b AS src, id_a AS dst FROM jp),
              |nodes AS (SELECT DISTINCT src AS id FROM edges),
              |reach(src, dst) AS (
              |  SELECT id, id FROM nodes
              |  UNION
              |  SELECT r.src, e.dst FROM reach r
              |  JOIN edges e ON r.dst = e.src),
              |clusters AS (
              |  SELECT src AS doc_id, min(dst) AS cluster_id
              |  FROM reach GROUP BY src)
              |SELECT d.doc_id, d.lang, d.source FROM documents d
              |WHERE d.doc_id NOT IN (
              |  SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
              |""".stripMargin))
  )
}
