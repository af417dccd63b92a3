package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import QHelp._
import graft.operators.Classify

/** Gate rows for the Naive Bayes document classifier
  * ([[graft.operators.Classify]]) — the "quality / domain classifier"
  * stage of a pretrain curation pipeline, CCNet's fastText slot. The
  * gate convention: train on the even-doc_id half of `documents` with
  * `source` as the class label, score/classify EVERY document (the
  * odd half is genuinely held out — unseen tokens exercise the
  * smoothing arm). All scores are integer bits
  * (`bitlen = len(bin(…))`), so every oracle replays the cost rule
  * verbatim — no float crosses the engine boundary. */
object ClassifyQueries extends QueryPack {

  /** The labeled training split: even doc_ids, class = source. */
  private def trainSplit(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 2 === 0)

  /** The shared cost-matrix CTE chain (multi-referenced CTEs
    * MATERIALIZED — a re-inlined `tok`/`cnt` stacks multiplicatively
    * in DuckDB, the q_pipeline_ccnet lesson). Ends at `costs`
    * (doc_id, label, n_tokens, bits) plus `dt` (doc_id, n_tokens).
    * Exposed WITHOUT the leading WITH as [[oCostsBody]] so composed
    * pipelines (CurationQueries.q_pipeline_classified) can splice it
    * into a larger chain; the word-split CTE is named `cw`, not `w`,
    * because the minhash chain it composes with already claims `w`. */
  private[queries] val oCostsBody =
    """cw AS MATERIALIZED (
      |  SELECT doc_id, source,
      |         string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |tok AS MATERIALIZED (
      |  SELECT doc_id, unnest(w) AS token FROM cw),
      |ttk AS MATERIALIZED (
      |  SELECT source AS label, unnest(w) AS token FROM cw
      |  WHERE doc_id % 2 = 0),
      |cnt AS MATERIALIZED (
      |  SELECT label, token, count(*) AS c FROM ttk GROUP BY 1, 2),
      |cls AS MATERIALIZED (
      |  SELECT source AS label, count(*) AS d FROM cw
      |  WHERE doc_id % 2 = 0 GROUP BY 1),
      |v AS (SELECT count(DISTINCT token) AS v FROM ttk),
      |tot AS (SELECT CAST(sum(d) AS BIGINT) AS dd,
      |               count(*) AS ll FROM cls),
      |nl AS (SELECT label, CAST(sum(c) AS BIGINT) AS n
      |       FROM cnt GROUP BY 1),
      |dims AS MATERIALIZED (
      |  SELECT cls.label,
      |    CAST(len(bin((SELECT dd FROM tot) + (SELECT ll FROM tot))) -
      |         len(bin(cls.d + 1)) AS BIGINT) AS prior,
      |    CAST(len(bin(coalesce(nl.n, 0) + (SELECT v FROM v)))
      |         AS BIGINT) AS bl
      |  FROM cls LEFT JOIN nl USING (label)),
      |dt AS MATERIALIZED (
      |  SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY 1),
      |seen AS MATERIALIZED (
      |  SELECT t.doc_id, c.label,
      |    CAST(sum(len(bin(c.c + 1)) - 1) AS BIGINT) AS sa
      |  FROM tok t JOIN cnt c USING (token) GROUP BY 1, 2),
      |costs AS MATERIALIZED (
      |  SELECT dt.doc_id, dims.label, dt.n_tokens,
      |    dims.prior + dt.n_tokens * (dims.bl - 1) -
      |      coalesce(seen.sa, 0) AS bits
      |  FROM dt CROSS JOIN dims
      |  LEFT JOIN seen ON seen.doc_id = dt.doc_id
      |                AND seen.label = dims.label)
      |""".stripMargin

  private val oCosts = "WITH " + oCostsBody

  /** The full (doc × class) matrix — q_text_nb_score's oracle. */
  private val oScoreSql = oCosts +
    """SELECT doc_id, label, n_tokens,
      |  CAST(bits AS BIGINT) AS bits,
      |  CAST(bits AS BIGINT) * 1000 // n_tokens AS milli_bits
      |FROM costs
      |""".stripMargin

  /** The argmin class per doc (ties broken by label ascending) —
    * shared by q_text_nb_classify, q_text_nb_model,
    * q_stream_nb_classify, and q_stream_nb_ingest: the stored-model
    * and streaming paths must be bit-identical to the fresh
    * train-and-classify. */
  private val oClassifySql = oCosts +
    """, m AS (SELECT doc_id, min(bits) AS mb FROM costs GROUP BY 1),
      |b AS (SELECT c.doc_id, min(c.label) AS label
      |      FROM costs c JOIN m ON c.doc_id = m.doc_id
      |                         AND c.bits = m.mb
      |      GROUP BY 1)
      |SELECT b.doc_id, b.label, dt.n_tokens,
      |  CAST(m.mb AS BIGINT) AS bits,
      |  CAST(m.mb AS BIGINT) * 1000 // dt.n_tokens AS milli_bits
      |FROM b JOIN m USING (doc_id) JOIN dt USING (doc_id)
      |""".stripMargin

  override def queries: Map[String, Q] = Map(

    // the full integer-bit cost matrix — one row per (document,
    // class). The matrix is what a curation pipeline thresholds when
    // it wants calibrated per-class margins rather than a hard argmax
    // (e.g. "keep only docs whose best class beats the second best by
    // >= m bits").
    "q_text_nb_score" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        Classify.scoreNb(
          Classify.trainNb(trainSplit(docs), "source", "text"),
          docs, "doc_id", "text")
      },
      Some(oScoreSql)),

    // the hard decision: arg-min-bits class per document, ties broken
    // by label ascending — identical tie rule in both engines (ASCII
    // label collation agrees). The argmin is a map-side-combined
    // min(struct(bits, label, …)), not a window.
    "q_text_nb_classify" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        Classify.classifyNb(
          Classify.trainNb(trainSplit(docs), "source", "text"),
          docs, "doc_id", "text")
      },
      Some(oClassifySql)),

    // the decision with its MARGIN — runner-up bits minus winning
    // bits, the confidence signal a classifier-gated curation stage
    // thresholds on (a 0-margin win is a tie, weak evidence). The
    // winner row is bit-identical to q_text_nb_classify's; the oracle
    // ranks each doc's costs by (bits, label) and subtracts.
    "q_text_nb_margin" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        Classify.classifyNbWithMargin(
          Classify.trainNb(trainSplit(docs), "source", "text"),
          docs, "doc_id", "text")
      },
      Some(oCosts +
        """, r AS (
          |  SELECT doc_id, label, n_tokens, bits,
          |    row_number() OVER (PARTITION BY doc_id
          |                       ORDER BY bits, label) AS rn
          |  FROM costs)
          |SELECT r1.doc_id, r1.label, r1.n_tokens,
          |  CAST(r1.bits AS BIGINT) AS bits,
          |  CAST(r1.bits AS BIGINT) * 1000 // r1.n_tokens AS milli_bits,
          |  CAST(coalesce(r2.bits - r1.bits, 0) AS BIGINT)
          |    AS margin_bits
          |FROM r r1 LEFT JOIN r r2
          |  ON r1.doc_id = r2.doc_id AND r2.rn = 2
          |WHERE r1.rn = 1
          |""".stripMargin)),

    // the PERSISTED model exercised through its full lifecycle in the
    // state a deployment serves from: write a seed store (the
    // doc_id % 4 == 0 quarter), append the rest of the training split
    // in O(batch) tagged batches, compact via the one maintenance
    // entry point, read back, classify. Must be bit-identical to the
    // fresh train over the whole split — the stored ≡ fresh-over-union
    // invariant every persistence unit carries.
    "q_text_nb_model" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val dir = scratchDir("nb_model", d)
        val train = trainSplit(docs)
        Classify.writeNbModel(
          train.filter(col("doc_id") % 4 === 0), "source", "text", dir)
        Classify.appendNbModel(
          train.filter(col("doc_id") % 4 =!= 0), "source", "text",
          dir, tag = "append-0")
        graft.operators.Maintenance.compactAll(
          docs.sparkSession, Seq(dir))
        Classify.classifyNb(
          Classify.readNbModel(docs.sparkSession, dir),
          docs, "doc_id", "text")
      },
      Some(oClassifySql)),

    // the classifier actually SERVING: documents arrive as a stream
    // and classify per micro-batch against the persisted model
    // (StreamJobs.nbLookupStream), each batch overwriting its
    // batch_id=<id> subdir. Class decisions are doc-local, so the
    // cross-batch union equals the batch oracle exactly —
    // q_stream_lm_score's discipline applied to classification.
    "q_stream_nb_classify" -> Q(
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val dir = scratchDir("stream_nb", d)
        val run = s"$dir/run_${System.nanoTime()}"
        val modelDir = s"$dir/model"
        Classify.writeNbModel(trainSplit(docs), "source", "text",
          modelDir)
        val rows = docs.select($"doc_id", $"text")
          .as[(Long, String)].collect().toSeq
        implicit val sqlCtx = s.sqlContext
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val outDir = s"$run/out"
        val q = graft.streaming.StreamJobs.nbLookupStream(
            input.toDS().toDF("doc_id", "text"), modelDir, outDir,
            "doc_id", "text")
          .option("checkpointLocation", s"$run/ckpt").start()
        try {
          rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { b =>
            input.addData(b); q.processAllAvailable()
          }
        } finally q.stop()
        s.read.parquet(outDir).select(col("doc_id"), col("label"),
          col("n_tokens"), col("bits"), col("milli_bits"))
      },
      Some(oClassifySql)),

    // the model's WRITE path under streaming: labeled training docs
    // arrive as a stream — seed the store from the doc_id % 4 == 0
    // quarter, the rest of the split ingested by
    // StreamJobs.nbIngestStream in three tagged exactly-once batches,
    // then a quiesced compactAll restores the sorted layout and
    // classification runs from the store. Shares the classify oracle:
    // a stream-built model must be bit-identical to the full-split
    // fresh train.
    "q_stream_nb_ingest" -> Q(
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val train = trainSplit(docs)
        val dir = scratchDir("nb_ingest", d)
        val run = s"$dir/run_${System.nanoTime()}"
        val mDir = s"$run/model"
        Classify.writeNbModel(
          train.filter($"doc_id" % 4 === 0), "source", "text", mDir)
        val rest = train.filter($"doc_id" % 4 =!= 0)
          .select($"doc_id", $"source", $"text")
          .as[(Long, String, String)].collect().toSeq
        implicit val sqlCtx = s.sqlContext
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String, String)]
        val q = graft.streaming.StreamJobs.nbIngestStream(
            input.toDS().toDF("doc_id", "source", "text"), mDir,
            "source", "text", runId = "r0")
          .option("checkpointLocation", s"$run/ckpt").start()
        try {
          rest.grouped(math.max(1, rest.size / 3 + 1)).foreach { b =>
            input.addData(b); q.processAllAvailable()
          }
        } finally q.stop()
        graft.operators.Maintenance.compactAll(s, Seq(mDir))
        Classify.classifyNb(Classify.readNbModel(s, mDir), docs,
          "doc_id", "text")
      },
      Some(oClassifySql)))
}
