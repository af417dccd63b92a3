package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** Supervised document classification for training-data curation —
  * the "quality / domain classifier" stage every large-scale pretrain
  * pipeline runs next to its LM filter (CCNet's fastText language
  * classifier, Wenzek et al. LREC 2020; the GPT-3/LLaMA
  * "Wikipedia-vs-web" quality classifiers): train a multinomial
  * Naive Bayes model over labeled documents, score every candidate
  * against every class, and keep the argmax class (equivalently the
  * arg-MIN integer bit cost — lower = more class-like, the same
  * polarity as [[LmScore]]).
  *
  * Like the LM stack, every probability is quantized to INTEGER bits
  * via `bitlen(n) = length(bin(n))` (= ⌊log2 n⌋ + 1 for n ≥ 1), so no
  * float ever crosses an engine boundary and the DuckDB oracle
  * replays the rule verbatim. With Laplace smoothing, for a document
  * with tokens t₁…tₙ and class ℓ:
  *
  *   bits(doc, ℓ) = bitlen(D + L) − bitlen(d_ℓ + 1)        // prior
  *                + Σᵢ [ bitlen(n_ℓ + V) − bitlen(c_{ℓ,tᵢ} + 1) ]
  *
  * with d_ℓ = training docs of class ℓ, D = Σ d_ℓ, L = number of
  * classes, c_{ℓ,t} = occurrences of token t in class ℓ's training
  * text, n_ℓ = Σ_t c_{ℓ,t}, and V the training vocabulary — i.e.
  * −log2 of prior × Π likelihood at bit granularity. Unseen tokens
  * cost bitlen(n_ℓ + V) − 1 (bitlen(0+1) = 1); a class with no
  * surviving token mass (fully pruned) reads n_ℓ = 0 — smoothing
  * keeps every cost defined and ≥ 0.
  *
  * Scale shape (100 TB corpus, labeled training set ≪ corpus as in
  * CCNet): training is one map-side-combined groupBy over the
  * training set's (label, token) pairs — training-sized, not
  * corpus-sized. Scoring NEVER materializes the corpus-tokens × L
  * matrix: the identity
  *
  *   Σᵢ bitlen(c_{ℓ,tᵢ}+1) = n_doc + Σ_{matched} (bitlen(c+1) − 1)
  *
  * (every unmatched token contributes bitlen(1) = 1) turns the token
  * pass into ONE inner join of the exploded corpus against the
  * model's (token → label, c) table — only (token, class) pairs the
  * model has ever seen produce rows — followed by a map-side-combined
  * per-(doc, class) sum; the full cost matrix then assembles on the
  * one-row-per-doc frame by exploding a LITERAL array of the L class
  * dims (L is tens to hundreds by the nature of classification, so
  * the dims collect to the driver like the vocab scalar — a codegen'd
  * explode, not a broadcast-nested-loop cross join). Hot tokens
  * ("the") skew the PROBE side of the inner join only — each
  * (token, class) key has one dim row, so AQE's skew split covers it
  * without salting. The argmin is a single map-side-combined
  * `min(struct(bits, label))` per doc — no window shuffle.
  */
object Classify {

  /** A trained NB model: `counts` (label, token, c), `classes`
    * (label, d = training docs of that class), and the training
    * vocabulary size. The frames are lazy plans over the training
    * set — [[scoreNb]]/[[classifyNb]] persist them for the duration
    * of a scoring plan ([[releaseNbCache]] is the caller's release
    * hook, [[LmScore.releaseBackoffCache]]'s contract). */
  final case class NbModel(counts: DataFrame, classes: DataFrame,
      vocab: Long)

  /** (idCols..., token) — one row per whitespace token occurrence,
    * duplicates kept (multinomial NB counts occurrences). `tokens` of
    * trimmed text always yields ≥ 1 element (empty text tokenizes to
    * [""]), so every document survives to scoring. */
  private def tokensOf(df: DataFrame, idCols: Seq[String],
      textCol: String): DataFrame =
    df.select(idCols.map(col) :+
      explode(tokens(col(textCol))).as("token"): _*)

  /** Train the NB model: one (label, token) groupBy + one label
    * groupBy (both map-side combined) plus one distinct-token count.
    * The `vocab` scalar is a driver action by design — ONE number
    * baked into the scoring expressions keeps the score a pure column
    * computation.
    *
    * `minCount` > 1 prunes rare (label, token) counts after counting
    * — [[LmScore.train]]'s KenLM-style cutoff: under Zipf most rows
    * are hapax pairs carrying almost no likelihood mass, and the
    * cutoff is the size lever that keeps a web-scale training set's
    * model join-able. The pruned model is self-consistent: n_ℓ
    * re-derives from the surviving counts (pruned tokens score as
    * unseen — exactly the smoothing arm), class priors and the FULL
    * vocabulary V are untouched. */
  def trainNb(docs: DataFrame, labelCol: String, textCol: String,
      minCount: Long = 1L): NbModel = {
    require(minCount >= 1, "trainNb: minCount must be >= 1")
    val raw = tokensOf(docs, Seq(labelCol), textCol)
      .groupBy(col(labelCol).as("label"), col("token"))
      .agg(count(lit(1)).as("c"))
    val counts =
      if (minCount > 1L) raw.filter(col("c") >= minCount) else raw
    val classes = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("d"))
    val vocab = docs
      .select(explode(tokens(col(textCol))).as("__tok"))
      .agg(count_distinct(col("__tok"))).head().getLong(0)
    NbModel(counts, classes, vocab)
  }

  /** Persist the model frames if not already cached and return the
    * (cached counts, cached classes, D, L, dims) scoring inputs. The
    * persist-first discipline is [[LmScore.scoreBackoff]]'s: on a
    * fresh lazy model the D/L scalars, the n_ℓ aggregation, and the
    * score join would each re-run the whole training scan; with the
    * persist the training set is scanned once per frame and every arm
    * reads the vocab-/class-bounded cache. Release is the CALLER's
    * obligation via [[releaseNbCache]]. */
  private def dims(model: NbModel): (DataFrame, DataFrame) = {
    val none = org.apache.spark.storage.StorageLevel.NONE
    val counts =
      if (model.counts.storageLevel == none) model.counts.persist()
      else model.counts
    val classes =
      if (model.classes.storageLevel == none) model.classes.persist()
      else model.classes
    (counts, classes)
  }

  /** The L-row class dimension, COLLECTED: (label, prior bits,
    * per-token base bits B_ℓ = bitlen(n_ℓ + V)). One class-bounded
    * aggregation over each cached frame, then L rows to the driver —
    * the vocab-scalar discipline one size up: L is the number of
    * CLASSES (tens to hundreds by the nature of classification, never
    * corpus-scaled), and baking the dims into a literal array lets
    * the cost matrix assemble as a codegen'd explode with ZERO join
    * machinery — no broadcast-nested-loop cross join in the plan. */
  private def classDims(counts: DataFrame, classes: DataFrame,
      vocab: Long): Seq[(Any, Long, Long)] = {
    val tot = classes.agg(sum(col("d")).cast("long"),
      count(lit(1))).head()
    val (dTot, lTot) =
      (if (tot.isNullAt(0)) 0L else tot.getLong(0), tot.getLong(1))
    val nl = counts.groupBy(col("label"))
      .agg(sum(col("c")).cast("long").as("n"))
    classes.join(nl, Seq("label"), "left")
      .select(col("label"),
        (length(bin(lit(dTot) + lit(lTot))) -
          length(bin(col("d") + lit(1L)))).cast("long").as("prior"),
        length(bin(coalesce(col("n"), lit(0L)) + lit(vocab)))
          .cast("long").as("bl"))
      .collect().toSeq
      .map(r => (r.get(0), r.getLong(1), r.getLong(2)))
  }

  /** The (doc × class) integer bit-cost matrix: one row per
    * (document, class) with (idCol, label, n_tokens, bits,
    * milli_bits = bits·1000 DIV n_tokens). Lower = more class-like.
    * See the object scaladoc for the shape — the corpus is exploded
    * ONCE, inner-joined against the seen (token, label) table, and
    * the matrix assembles on the one-row-per-doc aggregate by
    * exploding the literal L-row class-dim array. Throws on a model
    * with no classes (scoring against nothing is a caller bug, not an
    * empty result). */
  def scoreNb(model: NbModel, docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val (counts, classes) = dims(model)
    val cd = classDims(counts, classes, model.vocab)
    require(cd.nonEmpty, "scoreNb: model has no classes")
    val dimsArr = array(cd.map { case (label, prior, bl) =>
      struct(lit(label).as("label"), lit(prior).as("prior"),
        lit(bl).as("bl"))
    }: _*)
    val toks = tokensOf(docs, Seq(idCol), textCol)
    val docTok = toks.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"))
    val seen = toks.join(counts, Seq("token"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(length(bin(col("c") + lit(1L))) - lit(1L))
        .cast("long").as("sa"))
    docTok.select(col(idCol), col("n_tokens"),
        explode(dimsArr).as("__d"))
      .select(col(idCol), col("n_tokens"), col("__d.label").as("label"),
        col("__d.prior").as("prior"), col("__d.bl").as("bl"))
      .join(seen, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"), col("n_tokens"),
        (col("prior") + col("n_tokens") * (col("bl") - lit(1L)) -
          coalesce(col("sa"), lit(0L))).cast("long").as("bits"))
      .withColumn("milli_bits", expr("bits * 1000 DIV n_tokens"))
  }

  /** Classify: the arg-MIN-cost class per document, ties broken by
    * label ascending (both engines order ASCII labels identically).
    * Returns (idCol, label, n_tokens, bits, milli_bits) — one row per
    * document. The argmin is `min(struct(bits, label, …))` — a single
    * map-side-combined aggregate over the L-rows-per-doc matrix, not
    * a window (a row_number window would re-shuffle the matrix and
    * sort inside each doc partition for the same answer). */
  def classifyNb(model: NbModel, docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    scoreNb(model, docs, idCol, textCol)
      .groupBy(col(idCol))
      .agg(min(struct(col("bits"), col("label"), col("n_tokens"),
        col("milli_bits"))).as("__m"))
      .select(col(idCol), col("__m.label").as("label"),
        col("__m.n_tokens").as("n_tokens"),
        col("__m.bits").as("bits"),
        col("__m.milli_bits").as("milli_bits"))

  /** [[classifyNb]] with the decision MARGIN — the calibration signal
    * a classifier-GATED curation stage thresholds on: `margin_bits` =
    * runner-up cost − winning cost (0 when the model has one class).
    * A document the model barely prefers (margin 0–2 bits — ties and
    * near-ties) is weak evidence; quality gates keep only wins above
    * a margin floor, and the margin distribution is the corpus
    * diagnostic that sets it. Returns (idCol, label, n_tokens, bits,
    * milli_bits, margin_bits) — one row per document.
    *
    * Scale shape: the per-doc class costs collect into ONE bounded
    * array (L structs — class-bounded, the same bound that lets
    * classDims ride the driver) and sort in-row; a two-pass
    * min/second-min would re-shuffle the matrix for the same answer.
    * The aggregation is partial-merge combined like any
    * TypedImperativeAggregate. */
  def classifyNbWithMargin(model: NbModel, docs: DataFrame,
      idCol: String, textCol: String): DataFrame =
    scoreNb(model, docs, idCol, textCol)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("bits"), col("label"),
        col("n_tokens"), col("milli_bits")))).as("__s"))
      .select(col(idCol),
        col("__s")(0).getField("label").as("label"),
        col("__s")(0).getField("n_tokens").as("n_tokens"),
        col("__s")(0).getField("bits").as("bits"),
        col("__s")(0).getField("milli_bits").as("milli_bits"),
        when(size(col("__s")) >= 2,
          col("__s")(1).getField("bits") - col("__s")(0).getField("bits"))
          .otherwise(lit(0L)).as("margin_bits"))

  /** kNN label propagation — auto-labeling a corpus from a small
    * labeled seed (the semi-supervised step pretrain pipelines run to
    * spread a few thousand human quality/domain labels over billions
    * of documents): given a NEIGHBORS frame (any ANN stage's output —
    * `Similarity.ivfTopKWithIndex`, `bruteForceTopK`, the stored
    * IVF-PQ probe — as (qIdCol, nnIdCol, rankCol) rows) and the
    * labeled seed, each query takes the MAJORITY label of its
    * neighbors; ties break to the label ascending. Returns one row
    * per query with ≥ 1 labeled neighbor: (qIdCol, label, votes,
    * best_rank) — votes the winning label's neighbor count,
    * best_rank the winner's nearest neighbor's rank (the calibration
    * signal: a label that wins on far neighbors is weaker evidence
    * than one that wins on rank 1-2).
    *
    * Scale shape: the label join broadcasts only when the CALLER
    * vouches for the seed (`broadcastSeed = true` — right when the
    * seed is the hand-labeled set, which usually arrives stats-less,
    * where an estimate-driven planner would shuffle the queries×k
    * neighbor frame on nnId instead). The default leaves sizing to
    * AQE: a forced hint on a caller-supplied frame that is NOT
    * statically bounded — e.g. a corpus-derived label table — would
    * bypass autoBroadcastJoinThreshold and hit the 8 GB broadcast cap
    * or OOM the driver at deployment scale (the round-17 ADVICE
    * trap). The two aggregations are map-side combined over the
    * queries×k neighbor frame — no window, no shuffle beyond the qId
    * groupings. The expensive part is the ANN probe that PRODUCES
    * `neighbors`, and that is the stored-index serving path with its
    * own scale story. Everything is integer (votes, ranks) — the
    * DuckDB oracle replays the vote verbatim on top of the ANN
    * chain's oracle. */
  def knnVote(neighbors: DataFrame, labeled: DataFrame,
      qIdCol: String, nnIdCol: String, rankCol: String,
      idCol: String, labelCol: String,
      broadcastSeed: Boolean = false): DataFrame = {
    val seed = labeled.select(col(idCol).as(nnIdCol),
      col(labelCol).as("label"))
    neighbors
      .join(if (broadcastSeed) broadcast(seed) else seed, Seq(nnIdCol))
      .groupBy(col(qIdCol), col("label"))
      .agg(count(lit(1)).as("votes"),
        min(col(rankCol)).cast("long").as("best_rank"))
      .groupBy(col(qIdCol))
      // (−votes, label) is unique per query, so the lexicographic min
      // IS "most votes, then label ascending" — map-side combined,
      // never a window
      .agg(min(struct((-col("votes")).as("nv"), col("label"),
        col("votes"), col("best_rank"))).as("__m"))
      .select(col(qIdCol), col("__m.label").as("label"),
        col("__m.votes").as("votes"),
        col("__m.best_rank").as("best_rank"))
  }

  /** Release the caches [[scoreNb]]/[[classifyNb]] pinned for
    * `model`. Call once the returned scores are fully consumed (a
    * later action on an un-consumed result recomputes — correct,
    * slower). A long-lived serve session scoring many batches against
    * per-batch models MUST call this per batch or the pinned
    * class-bounded caches accumulate executor storage. Idempotent. */
  def releaseNbCache(model: NbModel): Unit = {
    model.counts.unpersist()
    model.classes.unpersist()
    ()
  }

  // ── persisted NB model ──────────────────────────────────────────────
  //
  // The labeled training set is scanned once per model LIFETIME, not
  // once per scoring run: counts.parquet ((label, token, c) partials,
  // token-sorted sized files — scoring joins on token, so token-sorted
  // files prune), classes.parquet ((label, d) partials),
  // vocabulary.parquet (training tokens, duplicate-tolerant — vocab is
  // count_distinct at read, the only merge rule that stays exact under
  // appends: vocab sizes do NOT add) + the exact vocab as a record
  // param on a compacted store. Appends land O(batch) count partials;
  // read-time aggregation collapses them exactly (CorpusProfile's
  // partials discipline), so a stored-model score is bit-identical to
  // a fresh train at every moment.

  val NbKind = "nb-model"

  /** Train on `docs` and persist the model at `dir` (staged +
    * atomically swapped). The compacted layout materializes the exact
    * vocab in the record, so [[readNbModel]] on a compacted store is
    * plain reads with ZERO re-aggregation — the fast path
    * `StreamJobs.nbLookupStream` takes on a reload. */
  def writeNbModel(docs: DataFrame, labelCol: String, textCol: String,
      dir: String, targetFileBytes: Long = 128L << 20): Unit = {
    val counts = tokensOf(docs, Seq(labelCol), textCol)
      .groupBy(col(labelCol).as("label"), col("token"))
      .agg(count(lit(1)).as("c"))
    val classes = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("d"))
    val vocabulary = docs
      .select(explode(tokens(col(textCol))).as("token")).distinct()
    writeCompacted(docs.sparkSession, dir, counts, classes, vocabulary,
      targetFileBytes)
  }

  /** Shared by [[writeNbModel]] and [[nbCompact]]: stage the three
    * tables (counts already one-row-per-group, class doc counts,
    * distinct vocabulary) with the exact vocab as a record param,
    * swap. */
  private def writeCompacted(spark: org.apache.spark.sql.SparkSession,
      dir: String, counts: DataFrame, classes: DataFrame,
      vocabulary: DataFrame, targetFileBytes: Long): Unit =
    graft.store.Store.write(spark, dir, NbKind, Map.empty) { st =>
      st.sized("counts.parquet", counts, Seq("token", "label"),
        targetFileBytes)
      st.sized("classes.parquet", classes, Seq("label"), targetFileBytes,
        minFiles = 1)
      st.sized("vocabulary.parquet", vocabulary, Seq("token"),
        targetFileBytes)
      // vocab derives from the STAGED table, not the input plan:
      // re-evaluating the lazy plan would re-scan the training set
      st.param("vocab", st.staged(spark, "vocabulary.parquet").count())
    }

  /** The stored model, from one record snapshot. On a COMPACTED store
    * (no append since the last sorted write) this is plain table reads
    * with the vocab from the record: zero re-aggregation. After
    * appends the read collapses partials exactly (counts re-summed per
    * (label, token), class doc counts re-summed, vocab as
    * count_distinct — all model-bounded work). Either way the result
    * is bit-identical to [[trainNb]] over the union of everything
    * written + appended; the training corpus itself is never re-read. */
  def readNbModel(spark: org.apache.spark.sql.SparkSession,
      dir: String): NbModel = {
    val rec = graft.store.Store.require(spark, dir, NbKind)
    def t(name: String) = graft.store.Store.table(spark, dir, rec, name)
    if (rec.compacted)
      NbModel(t("counts.parquet"), t("classes.parquet"), rec.long("vocab"))
    else NbModel(
      t("counts.parquet")
        .groupBy(col("label"), col("token")).agg(sum(col("c")).as("c")),
      t("classes.parquet")
        .groupBy(col("label")).agg(sum(col("d")).as("d")),
      t("vocabulary.parquet").agg(count_distinct(col("token")))
        .head().getLong(0))
  }

  /** O(batch) EXACTLY-ONCE append of a new labeled batch under a
    * caller-stable `tag` (runId-batchId for a stream): its
    * (label, token) counts and (label, d) doc counts land as partial
    * rows, its tokens as (possibly duplicate) vocabulary rows — all
    * collapsed exactly at read — and the three tables commit in ONE
    * record write ([[LmScore.appendModel]]'s protocol): a committed
    * tag replays as a no-op, a crashed attempt's files stay invisible
    * until the replay purges them, and a reader sees the model before
    * or after the batch, never a class with mass but no prior row; an
    * empty batch commits nothing. Single-writer-per-dir is the caller's
    * contract. */
  def appendNbModel(docs: DataFrame, labelCol: String, textCol: String,
      dir: String, tag: String): Unit = {
    if (graft.plans.LocalRows.isEmpty(docs)) return
    graft.store.Store.append(docs.sparkSession, dir,
      graft.store.Store.require(docs.sparkSession, dir, NbKind), tag,
      Seq("vocabulary.parquet" ->
          docs.select(explode(tokens(col(textCol))).as("token")).distinct(),
        "counts.parquet" -> tokensOf(docs, Seq(labelCol), textCol)
          .groupBy(col(labelCol).as("label"), col("token"))
          .agg(count(lit(1)).as("c")),
        "classes.parquet" -> docs.groupBy(col(labelCol).as("label"))
          .agg(count(lit(1)).as("d"))))
  }

  /** Whether the stored model drifted from compacted form: an append
    * landed since the last sorted write (the record's sorted flags). */
  def nbDrifted(spark: org.apache.spark.sql.SparkSession,
      dir: String): Boolean =
    !graft.store.Store.require(spark, dir, NbKind).compacted

  /** Collapse partials/duplicates, re-sort, re-pack, re-derive the
    * vocab — the maintenance pass
    * ([[graft.operators.Maintenance.compactAll]] dispatches here),
    * which also restores [[readNbModel]]'s zero-aggregation fast
    * path. */
  def nbCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String, targetFileBytes: Long = 128L << 20): Unit = {
    val rec = graft.store.Store.require(spark, dir, NbKind)
    def t(name: String) = graft.store.Store.table(spark, dir, rec, name)
    writeCompacted(spark, dir,
      t("counts.parquet")
        .groupBy(col("label"), col("token")).agg(sum(col("c")).as("c")),
      t("classes.parquet")
        .groupBy(col("label")).agg(sum(col("d")).as("d")),
      t("vocabulary.parquet").distinct(), targetFileBytes)
  }
}
