package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** Language-model quality scoring for training-data curation — the
  * CCNet pattern (Wenzek et al., "CCNet: Extracting High Quality
  * Monolingual Datasets from Web Crawl Data", LREC 2020): train a
  * small n-gram LM on a clean reference corpus, score every candidate
  * document by its per-token cross-entropy under that model, and
  * keep/bucket by the score. Here the model is an add-one-smoothed
  * BIGRAM model and the cross-entropy is quantized to INTEGER bits:
  *
  *   cost(w1 w2) = bitlen(c(w1·) + V) − bitlen(c(w1 w2) + 1)
  *
  * with `bitlen(n) = length(bin(n))` (= ⌊log2 n⌋ + 1 for n ≥ 1),
  * `c(w1 w2)` the bigram's reference count, `c(w1·)` the count of
  * reference bigrams starting at w1 (= Σ_w2 c(w1 w2)), and V the
  * reference unigram vocabulary. That is −log2 of the Laplace
  * estimate (c12+1)/(c1+V) at bit granularity — the same
  * floor-log2-as-binary-digit-count discipline as
  * [[TextProfile]]'s BM25 idf: a float ln() is faithful only to
  * 1 ulp, so floor(ln ...) can disagree across engines on boundary
  * values, while a binary digit count is integer-exact everywhere
  * (the DuckDB oracle replays `len(bin(...))` verbatim). Unseen
  * bigrams cost bitlen(c1+V) − 1; unseen FIRST words read c1 = 0 —
  * smoothing keeps every cost defined and ≥ 0.
  *
  * Scale shape (100 TB corpus, reference ≪ corpus as in CCNet):
  * training is one map-side-combined groupBy over the reference's
  * bigrams (reference-sized, not corpus-sized); scoring explodes the
  * corpus into bigrams once and joins the two count tables — the
  * bigram table is reference-vocab-bounded, the firsts table
  * unigram-vocab-bounded, both shuffle-hash-joinable (broadcast when
  * the reference is small). Hot first-words ("the") skew the w1 join
  * key on the PROBE side only — each key has exactly one dim row, so
  * AQE's skew split handles it without salting. The per-doc
  * aggregation is map-side combined (sum/count). No float crosses an
  * engine boundary: scores are integer bits and integer milli-bits.
  */
object LmScore {

  /** A trained bigram model: `bigrams` (w1, w2, c12), `firsts`
    * (w1, c1 = Σ c12), and the reference unigram vocabulary size.
    * The frames are lazy plans over the reference — persist them (or
    * write them out) before scoring many corpora against one model. */
  final case class Model(bigrams: DataFrame, firsts: DataFrame,
      vocab: Long)

  /** (idCols..., w1, w2) — one row per CONSECUTIVE token pair of each
    * document with ≥ 2 whitespace tokens, in document order. */
  private def bigramsOf(df: DataFrame, idCols: Seq[String],
      textCol: String): DataFrame = {
    val t = col("__t")
    df.select(idCols.map(col) :+ tokens(col(textCol)).as("__t"): _*)
      .filter(size(t) >= 2)
      .select(idCols.map(col) :+ explode(zip_with(
        slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"): _*)
      .select(idCols.map(col) :+ col("__bg.w1") :+ col("__bg.w2"): _*)
  }

  /** Train the bigram model over a reference corpus: one bigram
    * groupBy (map-side combined) plus one distinct-token count. The
    * `vocab` scalar is a driver action by design — it is ONE number,
    * and baking it into the scoring expressions keeps the score a
    * pure column computation.
    *
    * `minCount` > 1 PRUNES rare bigrams after counting (KenLM's count
    * cutoff): under Zipf most of the table's ROWS are hapax bigrams
    * carrying almost no probability mass, so a small cutoff shrinks
    * the stored/broadcast model by an order of magnitude — the size
    * lever that keeps a 100 TB reference's model join-able. The
    * pruned model is SELF-CONSISTENT: c1 re-derives from the
    * surviving counts (pruned grams score as unseen, exactly the
    * add-one smoothing arm), and the vocabulary V stays the FULL
    * distinct-token count — pruning tunes the table size, not the
    * smoothing denominator, so scores of documents that never touch a
    * pruned gram shift only through the reduced c1 mass. */
  def train(docs: DataFrame, textCol: String,
      minCount: Long = 1L): Model = {
    require(minCount >= 1, "train: minCount must be >= 1")
    val raw = bigramsOf(docs, Nil, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    // guard the no-op case: counts are >= 1 by construction but the
    // optimizer cannot prove it, so an unconditional filter would
    // insert a dead Filter node into EVERY default-trained model plan
    // (perturbing exchange/cache matching for zero benefit)
    val counts =
      if (minCount > 1L) raw.filter(col("c12") >= minCount) else raw
    val firsts = counts.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vocab = docs.select(explode(tokens(col(textCol))).as("__tok"))
      .agg(count_distinct(col("__tok"))).head().getLong(0)
    Model(counts, firsts, vocab)
  }

  /** Score documents under a trained model. Returns one row per
    * document with ≥ 2 tokens: (idCol, n_bigrams, bits,
    * milli_bits) where `bits` is the summed quantized cross-entropy
    * and `milli_bits = bits·1000 DIV n_bigrams` the length-normalized
    * score curation thresholds on (lower = more reference-like; the
    * integer analog of CCNet's per-token perplexity). */
  def score(model: Model, docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    bigramsOf(docs, Seq(idCol), textCol)
      .join(model.bigrams, Seq("w1", "w2"), "left")
      .join(model.firsts, Seq("w1"), "left")
      .withColumn("__cost",
        length(bin(coalesce(col("c1"), lit(0L)) + lit(model.vocab))) -
          length(bin(coalesce(col("c12"), lit(0L)) + lit(1L))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__cost")).cast("long").as("bits"))
      .withColumn("milli_bits", expr("bits * 1000 DIV n_bigrams"))

  /** Train-and-score in one call — the CCNet shape: `reference` is
    * the clean corpus the model learns, `docs` the candidates being
    * scored. */
  def bitsPerBigram(reference: DataFrame, docs: DataFrame,
      idCol: String, textCol: String): DataFrame =
    score(train(reference, textCol), docs, idCol, textCol)

  /** [[score]] with interpolated UNIGRAM BACKOFF — the CCNet-grade
    * refinement the bigram-only cost lacks: under [[score]] every
    * unseen bigram after the same w1 costs the same
    * `bitlen(c1+V) − 1` bits whether w2 is a common reference word in
    * a novel combination ("rare continuation") or a token the
    * reference never saw at all ("garbage"). Backoff separates them:
    *
    *   cost = least( bitlen(c1+V)  − bitlen(c12+1),            // bigram
    *                 bitlen(N+V)   − bitlen(c2+1) + backoffBits ) // unigram
    *
    * where `c2(w2) = Σ_w1 c12` (reference bigrams ENDING at w2) and
    * `N = Σ c12` (total reference bigrams) — both derived from the
    * model's bigram table, so a STORED model needs no extra tables
    * and no retrain (the unigram arm is one more vocab-bounded
    * aggregation + join). `backoffBits` is the fixed escape penalty
    * (Katz's α as integer bits): a known-word unigram fallback costs
    * its corpus-frequency bits plus the penalty, an OOV w2 costs the
    * maximal `bitlen(N+V) − 1 + backoffBits`. Everything stays in the
    * integer-bitlen discipline, so the DuckDB oracle replays the rule
    * verbatim (`least(len(bin(..)), len(bin(..)))`). Scale shape is
    * [[score]]'s plus one vocab-bounded join on w2 (AQE skew-split
    * covers hot continuations exactly as it covers hot firsts) and
    * one scalar aggregate over the persisted bigram table for N. */
  def scoreBackoff(model: Model, docs: DataFrame, idCol: String,
      textCol: String, backoffBits: Int = 4): DataFrame = {
    require(backoffBits >= 0, "scoreBackoff: backoffBits must be >= 0")
    // persist the bigram table FIRST: on a fresh (lazy) model the N
    // scalar, the c2 aggregation, and the score join would otherwise
    // each re-run the whole reference scan + explode + count — at
    // sf10 that tripled the query (5.3 s vs lm_score's 2.0; with the
    // persist the reference is scanned once and every arm reads the
    // vocab-bounded cache). On a stored model it caches a small
    // parquet read — harmless. The cache must OUTLIVE this call (the
    // returned plan joins it lazily), so release is the CALLER's
    // obligation: [[releaseBackoffCache]] after the scores are
    // consumed. Re-scoring against the same Model does NOT stack
    // cache entries (already-persisted frames are left as-is), so
    // only a caller that builds a fresh Model per batch — the
    // lmLookupStream serving shape — accumulates pinned caches
    // without the release call.
    val bigrams =
      if (model.bigrams.storageLevel ==
          org.apache.spark.storage.StorageLevel.NONE)
        model.bigrams.persist()
      else model.bigrams
    val n = bigrams.agg(sum(col("c12")).cast("long")).head() match {
      case r if r.isNullAt(0) => 0L // empty reference: all-smoothing
      case r => r.getLong(0)
    }
    val seconds = bigrams.groupBy(col("w2"))
      .agg(sum(col("c12")).as("c2"))
    bigramsOf(docs, Seq(idCol), textCol)
      .join(bigrams, Seq("w1", "w2"), "left")
      .join(model.firsts, Seq("w1"), "left")
      .join(seconds, Seq("w2"), "left")
      .withColumn("__cost", least(
        length(bin(coalesce(col("c1"), lit(0L)) + lit(model.vocab))) -
          length(bin(coalesce(col("c12"), lit(0L)) + lit(1L))),
        length(bin(lit(n) + lit(model.vocab))) -
          length(bin(coalesce(col("c2"), lit(0L)) + lit(1L))) +
          lit(backoffBits)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__cost")).cast("long").as("bits"))
      .withColumn("milli_bits", expr("bits * 1000 DIV n_bigrams"))
  }

  // ── DSIR importance weighting ───────────────────────────────────────

  /** Data Selection via Importance Resampling (Xie et al., "Data
    * Selection for Language Models via Importance Resampling",
    * NeurIPS 2023), in the integer-bitlen contract: the importance
    * weight of a document x is p_target(x) / p_source(x), so its LOG2
    * is exactly
    *
    *   delta_bits = bits_source(x) − bits_target(x)
    *
    * — the document's quantized cross-entropy under the SOURCE (raw
    * pool) model minus under the TARGET (clean/domain) model, both
    * the add-one-smoothed bigram cost [[score]] computes. Positive =
    * more target-like than source-pool-like; `delta_milli_bits =
    * delta_bits·1000 DIV n_bigrams` is the length-normalized form
    * thresholds and rankings should use (a long document's raw delta
    * scales with its length, not its quality). Returns one row per
    * document with ≥ 2 tokens: (idCol, n_bigrams, target_bits,
    * source_bits, delta_bits, delta_milli_bits).
    *
    * Scale shape: ONE corpus explode shared by both models (not two
    * [[score]] passes), then four vocab-bounded dim joins (each
    * model's bigram + firsts tables) and a map-side-combined per-doc
    * sum — [[score]]'s shape with two more reference-bounded dims.
    * Both models' bigram frames are persisted for the duration
    * ([[releaseDsirCache]] on the pair afterwards — the standard
    * release contract in its two-model form; on stored models the pin
    * is a small parquet read). Hot first-word skew is probe-side
    * only; AQE splits it. */
  def importanceBits(target: Model, source: Model, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val none = org.apache.spark.storage.StorageLevel.NONE
    val tb = if (target.bigrams.storageLevel == none)
      target.bigrams.persist() else target.bigrams
    val sb = if (source.bigrams.storageLevel == none)
      source.bigrams.persist() else source.bigrams
    bigramsOf(docs, Seq(idCol), textCol)
      .join(tb.withColumnRenamed("c12", "__t12"),
        Seq("w1", "w2"), "left")
      .join(target.firsts.withColumnRenamed("c1", "__t1"),
        Seq("w1"), "left")
      .join(sb.withColumnRenamed("c12", "__s12"),
        Seq("w1", "w2"), "left")
      .join(source.firsts.withColumnRenamed("c1", "__s1"),
        Seq("w1"), "left")
      .withColumn("__tc",
        length(bin(coalesce(col("__t1"), lit(0L)) + lit(target.vocab))) -
          length(bin(coalesce(col("__t12"), lit(0L)) + lit(1L))))
      .withColumn("__sc",
        length(bin(coalesce(col("__s1"), lit(0L)) + lit(source.vocab))) -
          length(bin(coalesce(col("__s12"), lit(0L)) + lit(1L))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__tc")).cast("long").as("target_bits"),
        sum(col("__sc")).cast("long").as("source_bits"))
      .withColumn("delta_bits", col("source_bits") - col("target_bits"))
      .withColumn("delta_milli_bits",
        expr("delta_bits * 1000 DIV n_bigrams"))
  }

  /** DSIR selection: the k most target-like documents by
    * length-normalized importance (`delta_milli_bits` DESC), ties
    * broken by idCol ascending — deterministic across partitionings
    * and engines. The global top-k plans as TakeOrderedAndProject
    * (per-partition bounded heaps + one driver merge of k·P rows),
    * never a full sort — the [[graft.operators.Curation]] top-k
    * discipline. This is the deterministic analog of the paper's
    * Gumbel resampling: the stochastic variant follows by composing
    * [[importanceBits]] with `Curation.sampleWeighted` over
    * hash-jittered milli weights. */
  def dsirSelect(target: Model, source: Model, docs: DataFrame,
      idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, "dsirSelect: k must be >= 1")
    importanceBits(target, source, docs, idCol, textCol)
      .orderBy(col("delta_milli_bits").desc, col(idCol))
      .limit(k)
  }

  // ── trigram extension ───────────────────────────────────────────────

  /** A trained trigram model: `trigrams` (w1, w2, w3, c123) and the
    * reference unigram vocabulary size. EVERY lower-order table the
    * backoff chain needs derives from the trigram table by summing
    * out context words (KenLM's continuation-count discipline), so
    * one stored table serves the whole
    * trigram → bigram → unigram chain with no retrain. Lazy frames —
    * [[scoreTrigram]] persists them for the duration of a scoring
    * plan ([[releaseTrigramCache]] is the caller's release hook). */
  final case class TrigramModel(trigrams: DataFrame, vocab: Long)

  /** (idCols..., w1, w2, w3) — one row per CONSECUTIVE token triple
    * of each document with ≥ 3 whitespace tokens, in document
    * order. */
  private def trigramsOf(df: DataFrame, idCols: Seq[String],
      textCol: String): DataFrame = {
    val t = col("__t")
    df.select(idCols.map(col) :+ tokens(col(textCol)).as("__t"): _*)
      .filter(size(t) >= 3)
      .select(idCols.map(col) :+ explode(zip_with(
        zip_with(
          slice(t, lit(1), size(t) - 2), slice(t, lit(2), size(t) - 2),
          (a, b) => struct(a.as("w1"), b.as("w2"))),
        slice(t, lit(3), size(t) - 2),
        (ab, c) => struct(ab.getField("w1").as("w1"),
          ab.getField("w2").as("w2"), c.as("w3")))).as("__tg"): _*)
      .select(idCols.map(col) :+ col("__tg.w1") :+ col("__tg.w2") :+
        col("__tg.w3"): _*)
  }

  /** Train a trigram model: one trigram groupBy (map-side combined)
    * plus the distinct-token count. `minCount` prunes rare trigrams
    * after counting exactly as [[train]]'s cutoff does for bigrams —
    * under Zipf the trigram table is hapax-dominated even harder than
    * the bigram table, so the cutoff is usually MANDATORY at 100 TB
    * reference scale, not an option. Pruned self-consistency is
    * inherited: every lower-order table re-derives from the surviving
    * trigrams, V stays the full vocabulary. */
  def trainTrigram(docs: DataFrame, textCol: String,
      minCount: Long = 1L): TrigramModel = {
    require(minCount >= 1, "trainTrigram: minCount must be >= 1")
    val raw = trigramsOf(docs, Nil, textCol)
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c123"))
    val counts =
      if (minCount > 1L) raw.filter(col("c123") >= minCount) else raw
    val vocab = docs.select(explode(tokens(col(textCol))).as("__tok"))
      .agg(count_distinct(col("__tok"))).head().getLong(0)
    TrigramModel(counts, vocab)
  }

  /** Score documents under a trigram model with full
    * trigram → bigram → unigram backoff — the CCNet filter one order
    * closer to its 5-gram KenLM shape than [[scoreBackoff]], built
    * from the SAME integer-bitlen contract:
    *
    *   cost = least(
    *     bitlen(cc12+V) − bitlen(c123+1),                    // trigram
    *     bitlen(c2x +V) − bitlen(b23 +1) +   backoffBits,    // bigram
    *     bitlen(N   +V) − bitlen(u3  +1) + 2·backoffBits )   // unigram
    *
    * with every count summed out of the trigram table: context mass
    * cc12(w1,w2) = Σ_w3 c123, lower-order bigram b23(w2,w3) = Σ_w1
    * c123 with its context mass c2x(w2) = Σ_{w1,w3} c123, unigram
    * u3(w3) = Σ_{w1,w2} c123, and N = Σ c123. Each arm is the Laplace
    * bit cost at its order plus one escape penalty per backed-off
    * level (Katz's α as integer bits); b23 ≤ c2x and u3 ≤ N and
    * c123 ≤ cc12 keep every arm ≥ 0. A distance-2 word scramble
    * preserves a document's BIGRAM multiset — [[score]] and
    * [[scoreBackoff]] provably tie it with its unscrambled twin —
    * while the trigram arm prices the novel triples (LmScoreSpec pins
    * exactly that separation).
    *
    * Returns one row per document with ≥ 3 tokens: (idCol,
    * n_trigrams, bits, milli_bits = bits·1000 DIV n_trigrams). The
    * DuckDB oracle replays the least(...) rule verbatim.
    *
    * Scale shape: [[scoreBackoff]]'s with one more explode column and
    * three more vocab-bounded dim joins — probe side explodes the
    * corpus once; all five dims (c123, cc12, b23, c2x, u3) are
    * reference-bounded and shuffle-hash/broadcast-joinable; hot
    * contexts skew the PROBE side only, AQE's skew split covers them.
    * The trigram table is persisted for the duration
    * ([[releaseTrigramCache]] afterwards — the [[scoreBackoff]]
    * release contract). */
  def scoreTrigram(model: TrigramModel, docs: DataFrame, idCol: String,
      textCol: String, backoffBits: Int = 4): DataFrame = {
    require(backoffBits >= 0, "scoreTrigram: backoffBits must be >= 0")
    val trigrams =
      if (model.trigrams.storageLevel ==
          org.apache.spark.storage.StorageLevel.NONE)
        model.trigrams.persist()
      else model.trigrams
    val n = trigrams.agg(sum(col("c123")).cast("long")).head() match {
      case r if r.isNullAt(0) => 0L // empty reference: all-smoothing
      case r => r.getLong(0)
    }
    val cc12 = trigrams.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c123")).as("cc12"))
    val b23 = trigrams.groupBy(col("w2"), col("w3"))
      .agg(sum(col("c123")).as("b23"))
    val c2x = trigrams.groupBy(col("w2"))
      .agg(sum(col("c123")).as("c2x"))
    val u3 = trigrams.groupBy(col("w3"))
      .agg(sum(col("c123")).as("u3"))
    trigramsOf(docs, Seq(idCol), textCol)
      .join(trigrams, Seq("w1", "w2", "w3"), "left")
      .join(cc12, Seq("w1", "w2"), "left")
      .join(b23, Seq("w2", "w3"), "left")
      .join(c2x, Seq("w2"), "left")
      .join(u3, Seq("w3"), "left")
      .withColumn("__cost", least(
        length(bin(coalesce(col("cc12"), lit(0L)) + lit(model.vocab))) -
          length(bin(coalesce(col("c123"), lit(0L)) + lit(1L))),
        length(bin(coalesce(col("c2x"), lit(0L)) + lit(model.vocab))) -
          length(bin(coalesce(col("b23"), lit(0L)) + lit(1L))) +
          lit(backoffBits),
        length(bin(lit(n) + lit(model.vocab))) -
          length(bin(coalesce(col("u3"), lit(0L)) + lit(1L))) +
          lit(2 * backoffBits)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(col("__cost")).cast("long").as("bits"))
      .withColumn("milli_bits", expr("bits * 1000 DIV n_trigrams"))
  }

  /** Release the trigram cache [[scoreTrigram]] pinned for `model` —
    * [[releaseBackoffCache]]'s contract, trigram model. Idempotent. */
  def releaseTrigramCache(model: TrigramModel): Unit = {
    model.trigrams.unpersist()
    ()
  }

  /** Release the bigram cache [[scoreBackoff]] pinned for `model`.
    * Call once the returned scores are fully consumed (a later action
    * on an un-consumed result simply recomputes — correct, slower).
    * A long-lived serve session scoring many batches against
    * per-batch models MUST call this per batch or the pinned
    * vocab-bounded caches accumulate executor storage. Idempotent. */
  def releaseBackoffCache(model: Model): Unit = {
    model.bigrams.unpersist()
    ()
  }

  /** Release the TWO bigram caches [[importanceBits]] /
    * [[dsirSelect]] pin for their (target, source) model pair —
    * [[releaseBackoffCache]]'s contract for the two-model DSIR path,
    * so a serve loop weighting batch after batch has ONE symmetric
    * hook instead of remembering to release each model separately.
    * Idempotent. */
  def releaseDsirCache(target: Model, source: Model): Unit = {
    target.bigrams.unpersist()
    source.bigrams.unpersist()
    ()
  }

  // ── persisted LM model ──────────────────────────────────────────────
  //
  // The reference corpus is scanned once per model LIFETIME, not once
  // per scoring run: bigrams.parquet ((w1, w2, c12) partials,
  // (w1, w2)-sorted sized files) + unigrams.parquet (reference
  // tokens, duplicate-tolerant — vocab is count_distinct at read, the
  // only merge rule that stays exact under appends: vocab sizes do
  // NOT add) + firsts.parquet and the exact vocab (record param) on
  // a compacted store. Appends land O(batch) count partials;
  // read-time aggregation collapses them exactly (CorpusProfile's
  // partials discipline), so a stored-model score is bit-identical
  // to a fresh train at every moment.

  val Kind = "lm-model"

  /** Train on `reference` and persist the model at `dir` (one store
    * write, committed by its record). The compacted layout also materializes what
    * a serve would otherwise recompute per probe: the derived firsts
    * table lands as `firsts.parquet` and the exact vocab count rides
    * the record — so [[readModel]] on a compacted store is two plain
    * reads with ZERO re-aggregation (the per-batch cost
    * `StreamJobs.lmLookupStream` pays on a reload). */
  def writeModel(reference: DataFrame, textCol: String, dir: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    val bigrams = bigramsOf(reference, Nil, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val unigrams = reference
      .select(explode(tokens(col(textCol))).as("token")).distinct()
    writeCompacted(reference.sparkSession, dir, bigrams, unigrams,
      targetFileBytes)
  }

  /** Shared by [[writeModel]] and [[modelCompact]]: stage the three
    * tables (bigram counts already one-row-per-group, derived firsts,
    * distinct unigrams) with the exact vocab as a record param, commit. */
  private def writeCompacted(spark: org.apache.spark.sql.SparkSession,
      dir: String, bigrams: DataFrame, unigrams: DataFrame,
      targetFileBytes: Long): Unit = {
    graft.store.Store.write(spark, dir, Kind, Map.empty) { st =>
      st.sized("bigrams.parquet", bigrams, Seq("w1", "w2"),
        targetFileBytes)
      // firsts derive from the STAGED bigrams, not the input plans:
      // re-evaluating the lazy bigram plan would re-run the whole
      // reference scan + explode + aggregation a second time — at
      // 100 TB that doubles the dominant model-build cost for a
      // vocab-bounded result the staged parquet already holds
      st.sized("firsts.parquet", st.staged(spark, "bigrams.parquet")
          .groupBy(col("w1")).agg(sum(col("c12")).as("c1")),
        Seq("w1"), targetFileBytes)
      st.sized("unigrams.parquet", unigrams, Seq("token"),
        targetFileBytes)
      // vocab derives from the STAGED table, not the input plan
      // (re-evaluating the lazy plan would re-scan the reference)
      st.param("vocab", st.staged(spark, "unigrams.parquet").count())
    }
  }

  /** The stored model, from one record snapshot. On a COMPACTED store
    * (no append since the last sorted write — the steady state) this
    * is two plain table reads with the vocab from the record: zero
    * re-aggregation. After appends the read collapses partials
    * exactly (counts re-summed per (w1, w2), firsts re-derived, vocab
    * as count_distinct over the token table — vocab-bounded work).
    * Either way the result is bit-identical to [[train]] over the
    * union of everything written + appended; the reference corpus
    * itself is never re-read. */
  def readModel(spark: org.apache.spark.sql.SparkSession,
      dir: String): Model = {
    val rec = graft.store.Store.require(spark, dir, Kind)
    def t(name: String) = graft.store.Store.table(spark, dir, rec, name)
    if (rec.compacted)
      Model(t("bigrams.parquet"), t("firsts.parquet"), rec.long("vocab"))
    else {
      val counts = t("bigrams.parquet")
        .groupBy(col("w1"), col("w2")).agg(sum(col("c12")).as("c12"))
      Model(counts,
        counts.groupBy(col("w1")).agg(sum(col("c12")).as("c1")),
        t("unigrams.parquet").agg(count_distinct(col("token")))
          .head().getLong(0))
    }
  }

  /** O(batch) EXACTLY-ONCE append of a new reference batch under a
    * caller-stable `tag` (runId-batchId for a stream): its bigram
    * counts land as partial rows, its tokens as (possibly duplicate)
    * unigram rows — both collapsed exactly at read — and both tables
    * commit in ONE record write (`graft.store.Store.append`): a
    * committed tag replays as a no-op, a crashed attempt's files are
    * invisible to every reader until the replay purges them, and a
    * serve concurrent with the append reads the model before or after
    * it, never between; an empty batch commits nothing, so a serve
    * beside the ingest keeps its cached model. Batch callers pass
    * `graft.store.Store.freshTag()`. Single-writer-per-dir is the
    * caller's contract. */
  def appendModel(reference: DataFrame, textCol: String,
      dir: String, tag: String): Unit = {
    if (graft.plans.LocalRows.isEmpty(reference)) return
    graft.store.Store.append(reference.sparkSession, dir,
      graft.store.Store.require(reference.sparkSession, dir, Kind), tag,
      Seq("unigrams.parquet" ->
          reference.select(explode(tokens(col(textCol))).as("token"))
            .distinct(),
        "bigrams.parquet" -> bigramsOf(reference, Nil, textCol)
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))))
  }

  /** Whether the stored model drifted from compacted form: an append
    * landed since the last sorted write (the record's sorted flags). */
  def modelDrifted(spark: org.apache.spark.sql.SparkSession,
      dir: String): Boolean =
    !graft.store.Store.require(spark, dir, Kind).compacted

  /** Collapse partials/duplicates, re-sort, re-pack, re-materialize
    * the firsts table and the vocab — the maintenance pass
    * ([[graft.operators.Maintenance.compactAll]] dispatches here),
    * which also restores [[readModel]]'s zero-aggregation fast path. */
  def modelCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String, targetFileBytes: Long = 128L << 20): Unit = {
    val rec = graft.store.Store.require(spark, dir, Kind)
    def t(name: String) = graft.store.Store.table(spark, dir, rec, name)
    writeCompacted(spark, dir, t("bigrams.parquet")
        .groupBy(col("w1"), col("w2")).agg(sum(col("c12")).as("c12")),
      t("unigrams.parquet").distinct(), targetFileBytes)
  }
}
