package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Repetition profiling for corpus quality filtering — the standard
  * cheap "repetition" signals LLM-data pipelines gate on (duplicate
  * n-gram fraction and top-n-gram fraction in the Gopher-rules style,
  * type-token ratio from the lexical-diversity literature): documents
  * dominated by a few repeated phrases are low-quality training data
  * and are filtered before any expensive dedup runs.
  */
object TextProfile {

  /** Per-document repetition signals over word unigrams and bigrams.
    * Returns one row per document with >= 2 tokens:
    *  - n_tokens, distinct_tokens and ttr_bp (type-token ratio)
    *  - n_bigrams, top_bigram_n (occurrences of the most frequent
    *    bigram) and top2_bp (its share of all bigram occurrences)
    *  - dup2_bp (share of bigram occurrences whose bigram occurs
    *    more than once)
    *
    * All ratio columns are integer basis points,
    * floor(10000·a/b) — identical IEEE division then floor on any
    * engine, so results are bit-exact cross-engine (a round() on
    * the raw double diverges on ties).
    *
    * Scale shape: unigram stats are narrow (size/array_distinct per
    * row, no shuffle); bigram occurrences explode to (id, gram) and
    * aggregate twice — shuffle keys (id, gram) then (id), both
    * bounded by document length × corpus size, the same budget as
    * every shingle pipeline here. The explode feeds from a
    * materialized token array (the interpreted-HOF re-evaluation trap
    * documented on shinglesOfTokens). */
  def repetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__w"))
    val uni = toks.select(col(idCol),
      size(col("__w")).cast("long").as("n_tokens"),
      size(array_distinct(col("__w"))).cast("long").as("distinct_tokens"))
    val bi = toks
      .select(col(idCol), explode(shinglesOfTokens(col("__w"), 2)).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol)).agg(
        sum(col("__c")).as("n_bigrams"),
        max(col("__c")).as("top_bigram_n"),
        sum(when(col("__c") >= 2, col("__c")).otherwise(lit(0L)))
          .as("__dup_occ"))
    def bp(num: org.apache.spark.sql.Column,
        den: org.apache.spark.sql.Column) =
      floor(num * lit(10000.0) / den).cast("long")
    uni.join(bi, idCol) // inner: drops docs with < 2 tokens (no bigrams)
      .select(col(idCol), col("n_tokens"), col("distinct_tokens"),
        bp(col("distinct_tokens"), col("n_tokens")).as("ttr_bp"),
        col("n_bigrams"), col("top_bigram_n"),
        bp(col("top_bigram_n"), col("n_bigrams")).as("top2_bp"),
        bp(col("__dup_occ"), col("n_bigrams")).as("dup2_bp"))
  }

  /** Gopher-style quality rule filter (Rae et al., "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher", 2021
    * §A1.1): the named heuristic gates a web-scale pretrain corpus
    * runs BEFORE any model-based scoring. Returns one row per
    * document: (idCol, n_words, rule_mask, keep) where bit i of
    * `rule_mask` is set iff rule i is VIOLATED and
    * `keep = (rule_mask == 0)`:
    *
    *   bit 0 — word count outside [minWords, maxWords]
    *   bit 1 — mean word length outside [3, 10] chars
    *   bit 2 — symbol-to-word ratio > 0.1 ('#' chars + '...' runs)
    *   bit 3 — < 80% of words contain an alphabetic character
    *   bit 4 — fewer than 2 distinct stopwords present (Gopher's
    *           minimal-fluency check, over this library's standard
    *           10-word stoplist)
    *
    * Every threshold is evaluated in INTEGER arithmetic — ratios
    * become cross-multiplications (mean length ∈ [3, 10] ⇔
    * 3·n ≤ Σlen ≤ 10·n; 80% ⇔ 5·alpha ≥ 4·n; 0.1 ⇔ 10·sym ≤ n) — so
    * both engines compare exact integers and no rounding boundary can
    * flip a rule. The mask (not just the boolean) is the useful
    * output at 100 TB: per-rule violation rates are the corpus
    * diagnostic that tunes thresholds, and `keep` re-derives from it
    * for free. One narrow codegen pass, no shuffle, no UDF.
    *
    * NULL text coalesces to '' BEFORE tokenizing, so a null document
    * fails the word-count rule (split('') is a single empty token,
    * n_words = 1 < minWords) instead of riding engine-specific null
    * propagation: Spark's size(split(NULL)) is -1 (which would fire
    * bit 0 here) while SQL NULL zeroes every CASE arm (mask 0,
    * keep = TRUE) — a real corpus with null rows would silently KEEP
    * them on the SQL side and DROP them here. Coalescing makes both
    * engines agree: null ≡ empty ≡ rejected. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      "gopherRules: need 1 <= minWords <= maxWords")
    val stops = Seq("the", "a", "an", "of", "and", "or", "to", "in",
      "is", "it")
    val t = col("__text"); val w = col("__w")
    val n = col("n_words")
    val txt = coalesce(col(textCol), lit(""))
    df.select(col(idCol), txt.as("__text"),
        tokens(txt).as("__w"))
      .select(col(idCol), t, w,
        size(w).cast("long").as("n_words"),
        aggregate(transform(w, x => length(x)), lit(0L),
          (acc, x) => acc + x).as("__sumlen"),
        size(filter(w, x => x.rlike("[A-Za-z]"))).cast("long")
          .as("__alpha"),
        ((length(t) - length(regexp_replace(t, "#", ""))) +
          (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) /
            lit(3)).cast("long").as("__sym"),
        size(array_intersect(w,
          array(stops.map(lit): _*))).cast("long").as("__stop"))
      .select(col(idCol), n,
        (when(n < minWords || n > maxWords, lit(1L)).otherwise(lit(0L)) +
         when(lit(3L) * n > col("__sumlen") ||
              col("__sumlen") > lit(10L) * n, lit(2L)).otherwise(lit(0L)) +
         when(lit(10L) * col("__sym") > n, lit(4L)).otherwise(lit(0L)) +
         when(lit(5L) * col("__alpha") < lit(4L) * n, lit(8L))
           .otherwise(lit(0L)) +
         when(col("__stop") < 2L, lit(16L)).otherwise(lit(0L)))
          .as("rule_mask"))
      .withColumn("keep", col("rule_mask") === 0L)
  }

  /** Per-document token-commonness profile — the CCNet-family quality
    * signal (corpus-LM perplexity's oracle-exact integer cousin): a
    * document whose token occurrences have LOW corpus document
    * frequency is rare-vocabulary text (boilerplate ids, codes,
    * misspellings, other-language fragments), high mean frequency is
    * common fluent vocabulary. Returns (idCol, n_tok, mean_df_bp,
    * hapax):
    *  - mean_df_bp: floor(10000 · mean-over-occurrences(df(term)) /
    *    ndocs). ONE floor, applied last — flooring each occurrence's
    *    ratio first would quantize every term with df < ndocs/10000
    *    to 0 and erase exactly the rare-vocabulary tail the signal
    *    measures. All-integer (sum·10000 DIV (ndocs·n_tok)), so both
    *    engines agree bit-for-bit (an ln-based perplexity diverges in
    *    the last ulp across libm implementations);
    *  - hapax: occurrences of corpus-hapax terms (df = 1), the
    *    classic noise count.
    *
    * Scale shape: same budget as [[topTerms]], literally — the
    * (doc, term) explode reduces to per-doc term frequencies FIRST
    * (map-side partials over token volume), so the term-keyed df join
    * carries distinct (doc, term) pairs, never raw occurrences (a
    * "spam"×10k document contributes one tf-weighted row, not 10k
    * join rows); the per-doc aggregate then shuffles on id. ndocs is
    * a single driver scalar (one count), not a collected relation. */
  def tokenRarity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = perDocTf(df, idCol, textCol)
    rarityAgg(tf, idCol,
      dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("__df")),
      ndocs = df.count())
  }

  /** [[tokenRarity]] scored against a STORED corpus profile
    * (`CorpusProfile`) instead of a fresh corpus-wide df pass — the
    * amortized form: the profile's per-(stratum, token) df table sums
    * to the corpus document frequency (strata partition the corpus),
    * so only the per-doc tf pass runs per scoring batch while the
    * corpus-sized df aggregation is read from the store. Scoring a
    * batch against a 100 TB corpus profile costs O(batch tokens ⋈
    * vocab), not a corpus rescan. Output is bit-identical to
    * [[tokenRarity]] when the profile covers exactly `df` —
    * q_text_rarity_profile shares q_text_rarity's oracle to gate
    * that. */
  def tokenRarityWithProfile(df: DataFrame, idCol: String,
      textCol: String, profile: CorpusProfile.Profile): DataFrame = {
    val agg = CorpusProfile.aggregated(profile)
    rarityAgg(perDocTf(df, idCol, textCol), idCol,
      dfreq = agg.tokens.groupBy(col("token"))
        .agg(sum(col("df")).as("__df"))
        .withColumnRenamed("token", "term"),
      ndocs = agg.strata.agg(sum(col("docs"))).head.getLong(0))
  }

  /** Per-document term frequencies — (idCol, term, __tf). */
  private def perDocTf(df: DataFrame, idCol: String,
      textCol: String): DataFrame = df
    .select(col(idCol), explode(tokens(col(textCol))).as("term"))
    .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("__tf"))

  private def rarityAgg(tf: DataFrame, idCol: String, dfreq: DataFrame,
      ndocs: Long): DataFrame =
    tf.join(dfreq, "term")
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).as("n_tok"),
        // integral DIV end to end: a double division then truncate
        // can land at .99999… and floor one off. The numerator
        // accumulates in DECIMAL(38,0): Σ(tf·df)·10000 can reach
        // ~n_tok·ndocs·10⁴ ≈ 10¹⁹ on a 10¹⁰-doc corpus — past int64.
        // (DuckDB's oracle side already sums BIGINT into HUGEINT.)
        expr(s"CAST(sum(CAST(__tf AS DECIMAL(38,0)) * __df) * 10000 DIV " +
          s"(${ndocs}L * sum(__tf)) AS BIGINT)").as("mean_df_bp"),
        sum(when(col("__df") === 1, col("__tf")).otherwise(0L))
          .as("hapax"))

  /** Top-k discriminative terms per document — keyword extraction in
    * the tf-idf family, with an INTEGER ordering so every engine
    * agrees bit-for-bit: rank by term frequency desc, then document
    * frequency asc (rarer across the corpus = more discriminative),
    * then term asc. A float tf·idf score ranks identically for fixed
    * tf whenever idf is monotone in df, so the integer form keeps the
    * semantics and drops the cross-engine ln()-rounding hazard.
    * Returns (idCol, rank, term, tf, df).
    *
    * Scale shape: tf is a (doc, term) count — shuffle bounded by
    * corpus token count; df reduces tf rows by term (vocab-sized,
    * NOT broadcast — a 100 TB vocab with hapax mass is itself large,
    * so the tf⋈df join shuffles on term and AQE may still broadcast
    * a small vocab at small SF). Per-doc top-k runs on the
    * bounded-heap aggregate: ≤ k rows per doc per task, no window. */
  def topTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val tf = df
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .groupBy(col(idCol))
      .agg(graft.plans.GraftCall(graft.plans.VectorExpressions.TopKName,
        struct(col("tf").as("tf"),
          struct(col("df").as("df"), col("term").as("term")).as("tb")),
        lit(k)).as("__top"))
      .select(col(idCol), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col(idCol), (col("__pos") + 1).cast("long").as("rank"),
        col("__e.tb.term").as("term"), col("__e.tf").as("tf"),
        col("__e.tb.df").as("df"))
  }

  /** Okapi BM25 top-k retrieval (k1 = 1.2, b = 0.75) — the lexical
    * retrieval pass an LLM-data pipeline runs for eval-set mining,
    * fuzzy decontamination triage, and RAG-style lookup over the
    * corpus. Scoring is QUANTIZED TO EXACT INTEGERS end-to-end, the
    * same no-ln() cross-engine discipline as [[topTerms]]:
    *
    *  - idf: the Lucene-BM25 form log(1 + odds) with odds the
    *    Robertson ratio (N−df+0.5)/(df+0.5) = (2N−2df+1)/(2df+1),
    *    at log2 granularity — idf = floor(log2(1+odds_int))+1 =
    *    length(bin(1 + odds_int)) with odds_int the integer
    *    quotient (so idf ≥ 1 always, as in Lucene — no negative-idf
    *    branch). A log base only rescales BM25 (log_b x = ln x /
    *    ln b), so log2 keeps the score family; computing it as the
    *    bit length of an integer makes it exact on every engine,
    *    where a float ln() is only faithful to 1 ulp and floor() of
    *    it can differ.
    *  - `stopwordCut` (default ON — the production setting) prunes
    *    terms with df > N/2 from retrieval entirely: the classic
    *    posting-list stopword cut, which bounds posting volume (the
    *    inherent exact-BM25 cost) by removing exactly the terms that
    *    dominate it. The GATE query disables it because the
    *    synthetic corpus's ~31-word vocabulary is near-universal
    *    (every term df ≈ 0.8N — the cut would empty retrieval);
    *    real corpora hit the cut only on actual stopwords.
    *  - tf-norm: tf·(k1+1)/(tf + k1(1−b+b·len/avgdl)) cleared of its
    *    rational constants with avgdl = T/D (T = total tokens, D =
    *    docs): 22·T·tf / (10·T·tf + 3·T + 9·len·D) — exact integers.
    *  - per-term contribution = (idf · 22·T·tf · 10⁴) DIV
    *    (10·T·tf + 3·T + 9·len·D), accumulated in DECIMAL(38,0)
    *    (the numerator passes int64 at sf10 token volumes already;
    *    DECIMAL(38,0) holds through ~10¹³ tokens = the 100 TB
    *    corpus); score = Σ contributions, an exact BIGINT in basis
    *    points of tf-norm.
    *
    * Scale shape: per-doc tf is one token-volume-bounded shuffle; the
    * term-keyed df reduction reuses that partitioning; the query side
    * broadcasts (a query set is always driver-small next to the
    * corpus); candidate scoring shuffles on (query, doc) with
    * map-side partial sums, and per-query top-k runs on the
    * bounded-heap aggregate — ≤ k rows per query per task, never a
    * window over the candidate set. The inherent exact-BM25 cost is
    * the posting volume Σ_t df(t) over query terms; the stopword cut
    * above removes exactly the terms that dominate it.
    *
    * Returns (q_id, rank, doc_id-named-as-idCol, score). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qIdCol: String, qTextCol: String,
      k: Int = 5, stopwordCut: Boolean = true): DataFrame = {
    val toks = docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("long").as("__len"),
        explode(col("__toks")).as("term"))
    // NOT persisted despite the double reference (df aggregation +
    // posting join both read tfLen — ScaleLint flags the MULTI_SCAN):
    // measured at sf1, caching the (doc, term, tf) table costs MORE
    // than the rescan it saves (7.91 s persisted vs 6.93 unpersisted
    // — columnar build + decode of a string-keyed corpus-sized frame;
    // the same measured trade as ivfIndex's unpersisted prep, and the
    // opposite of ivfPqTopK's pqInput, whose prefix contains an IVF
    // argmax). The scale answer to the double scan is the profile-fed
    // variant below: df comes from the store and tfLen is consumed
    // exactly once.
    val tfLen = toks
      .groupBy(col(idCol), col("__len"), col("term"))
      .agg(count(lit(1)).as("__tf"))
    // N and T in ONE narrow corpus pass (a count() + a toks.count()
    // would scan the corpus twice more); the profile-fed variant
    // reads both from the store and scans zero times
    val totals = docs
      .select(size(tokens(col(textCol))).cast("long").as("__len"))
      .agg(count(lit(1)).as("d"), sum(col("__len")).as("t")).head()
    bm25Agg(tfLen, idCol, queries, qIdCol, qTextCol,
      dfreq = tfLen.groupBy(col("term")).agg(count(lit(1)).as("__df")),
      totTokens = totals.getLong(1), nDocs = totals.getLong(0), k = k,
      stopwordCut = stopwordCut)
  }

  /** [[bm25TopK]] scored against a STORED corpus profile — the
    * amortized form, same contract as [[tokenRarityWithProfile]]:
    * df/N/avgdl come from the CorpusProfile store (per-stratum dfs
    * and token counts sum to corpus-wide — strata partition the
    * corpus), so retrieval over a 100 TB corpus pays the per-doc tf
    * pass and the posting join but never a corpus-wide stats rescan.
    * Bit-identical to [[bm25TopK]] when the profile covers exactly
    * `docs` (q_text_bm25's shared-oracle discipline would gate it;
    * TextKernelsSpec pins the parity). */
  def bm25TopKWithProfile(docs: DataFrame, idCol: String,
      textCol: String, queries: DataFrame, qIdCol: String,
      qTextCol: String, profile: CorpusProfile.Profile,
      k: Int = 5, stopwordCut: Boolean = true): DataFrame = {
    val agg = CorpusProfile.aggregated(profile)
    val toks = docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("long").as("__len"),
        explode(col("__toks")).as("term"))
    val tfLen = toks
      .groupBy(col(idCol), col("__len"), col("term"))
      .agg(count(lit(1)).as("__tf"))
    val totals = agg.strata
      .agg(sum(col("docs")).as("d"), sum(col("tokens")).as("t")).head()
    bm25Agg(tfLen, idCol, queries, qIdCol, qTextCol,
      dfreq = agg.tokens.groupBy(col("token"))
        .agg(sum(col("df")).as("__df"))
        .withColumnRenamed("token", "term"),
      totTokens = totals.getLong(1), nDocs = totals.getLong(0), k = k,
      stopwordCut = stopwordCut)
  }

  /** The persisted BM25 retrieval index — the SIXTH persistence unit
    * (after MinhashIndex, IvfIndex, PqIndex, IvfPqIndex,
    * CorpusProfile) and the lexical analog of the composed ANN
    * serving index: [[bm25TopK]] re-tokenizes and re-aggregates the
    * corpus per call (the tf build dominates its cost), so production
    * builds once, stores the posting table TERM-SORTED (range
    * clustered + sorted sized files — parquet min/max on `term` is
    * tight, so a small query's In-filter probe PRUNES FILES), and
    * every query batch pays only the posting lookup. `dfreq` stores
    * as PARTIALS (one per build/append batch) summed at read —
    * CorpusProfile's exact-merge discipline, which is what makes
    * [[bm25IngestBatch]] O(batch).
    *
    * `postings` = (idCol, __len, term, __tf); `dfreq` partials =
    * (term, __df); `nDocs`/`totTokens`/`idCol` are record params
    * (`graft.store.Store`). */
  final case class Bm25Index(postings: DataFrame, dfreq: DataFrame,
      idCol: String, nDocs: Long, totTokens: Long) {
    def write(dir: String): Unit = writeBm25(this, dir, 128L << 20)
  }

  private def writeBm25(index: Bm25Index, dir: String,
      targetFileBytes: Long): Unit =
    graft.store.Store.write(index.postings.sparkSession, dir, Bm25Kind,
        Map("docs" -> index.nDocs, "tokens" -> index.totTokens,
          "idCol" -> index.idCol)) { st =>
      // COMPOSITE range key (term, id), not term alone: a skewed
      // term (every corpus has stopword-class terms whose posting
      // list is a large fraction of N) would otherwise land
      // entirely in one range partition — measured 1,129 s vs
      // 147 s fresh at 500k docs on the degenerate vocabulary,
      // one task sorting/writing the hot term's millions of rows.
      // The id tiebreak splits heavy terms across sized files;
      // every file still carries a TIGHT term min/max (a term may
      // span adjacent files), so In(term) pruning is unharmed.
      st.sized("postings.parquet", index.postings,
        Seq("term", index.idCol), targetFileBytes)
      st.plain("df.parquet", index.dfreq)
    }

  val Bm25Kind = "bm25-index"

  /** Build a [[Bm25Index]] over a corpus — one tokenize + per-doc tf
    * pass, the df reduction, and the N/T totals pass; everything the
    * per-query path then never pays again. */
  def bm25Index(docs: DataFrame, idCol: String,
      textCol: String): Bm25Index = {
    val toks = docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("long").as("__len"),
        explode(col("__toks")).as("term"))
    val tfLen = toks
      .groupBy(col(idCol), col("__len"), col("term"))
      .agg(count(lit(1)).as("__tf"))
    val totals = docs
      .select(size(tokens(col(textCol))).cast("long").as("__len"))
      .agg(count(lit(1)).as("d"), sum(col("__len")).as("t")).head()
    Bm25Index(tfLen,
      tfLen.groupBy(col("term")).agg(count(lit(1)).as("__df")),
      idCol, totals.getLong(0), totals.getLong(1))
  }

  /** Reload a stored [[Bm25Index]] from one record snapshot, so
    * postings, df partials and the N/T totals are all of one
    * generation even while an ingest commits beside the read; df
    * partials are aggregated at read (bounded by |vocab|, exact). */
  def readBm25Index(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String): Bm25Index = {
    val rec = graft.store.Store.require(spark, dir, Bm25Kind)
    Bm25Index(
      graft.store.Store.table(spark, dir, rec, "postings.parquet"),
      graft.store.Store.table(spark, dir, rec, "df.parquet")
        .groupBy(col("term")).agg(sum(col("__df")).as("__df")),
      idCol, rec.long("docs"), rec.long("tokens"))
  }

  /** The one append to a stored [[Bm25Index]]: the batch's df PARTIAL,
    * its postings and its N/T contribution commit under `tag` in ONE
    * record write, in O(batch) — the corpus-sized posting table is
    * never rewritten. A committed tag replays as a no-op, a crashed
    * attempt's files stay invisible until the replay purges them, a
    * serve beside the ingest reads either the whole batch or none of
    * it, and an empty batch commits nothing. Batch callers pass
    * `graft.store.Store.freshTag()`, streams `runId-batchId`. Appended
    * files are not term-sorted with the original set: the record marks
    * the table unsorted until [[bm25IndexCompact]] restores the
    * row-group pruning the In(term) arm relies on. The batch must be
    * DOC-DISJOINT from the index (a re-appended doc double-counts
    * df/tf, not upserts); the id column comes from the record.
    * Single-writer-per-dir as everywhere. */
  def bm25IngestBatch(batch: DataFrame, textCol: String, dir: String,
      tag: String): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val rec = graft.store.Store.require(spark, dir, Bm25Kind)
    if (rec.applied.contains(tag)) return
    val b = bm25Index(batch, rec.str("idCol"), textCol)
    graft.store.Store.append(spark, dir, rec, tag,
      Seq("df.parquet" -> b.dfreq, "postings.parquet" -> b.postings),
      contrib = Map("docs" -> b.nDocs, "tokens" -> b.totTokens))
  }

  /** Restore a stored [[Bm25Index]] after appends: rewrites the
    * posting table TERM-SORTED into sized files (the property the
    * In(term) probe's row-group pruning needs) and collapses the df
    * partials to one row per term — a full write of the collapsed
    * snapshot (applied tags carry over). Quiesce appenders while
    * compacting (single-writer-per-dir, as everywhere). */
  def bm25IndexCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String, targetFileBytes: Long = 128L << 20): Unit = {
    val rec = graft.store.Store.require(spark, dir, Bm25Kind)
    writeBm25(readBm25Index(spark, dir, rec.str("idCol")), dir,
      targetFileBytes)
  }

  /** Whether a stored [[Bm25Index]]'s df partials have drifted from
    * fully-compacted form: more partial rows than distinct terms —
    * i.e. at least one append of overlapping vocabulary landed since
    * the last [[bm25IndexCompact]]. One vocab-bounded aggregation. */
  def bm25HasPartials(spark: org.apache.spark.sql.SparkSession,
      dir: String): Boolean = {
    val r = graft.sources.Sinks.readTagged(spark, s"$dir/df.parquet")
      .agg(count(lit(1)).as("rows"),
        count_distinct(col("term")).as("terms")).head()
    r.getLong(0) > r.getLong(1)
  }

  /** Distinct-term ceiling for [[bm25TopKWithIndex]]'s literal
    * In(term): a lookup-sized query set. Past it the terms' posting
    * lists cover most row groups anyway and a longer literal list only
    * weighs on the plan. */
  private[graft] val InTermsMax = 16

  /** Probe a prebuilt [[Bm25Index]]: identical output to
    * [[bm25TopK]] with the same parameters (spec-pinned), at
    * posting-lookup cost — no tokenize, no tf/df aggregation. Building
    * the frame runs no job. The posting scan is pruned to the query
    * terms by a broadcast left-semi join; when `queries` is
    * driver-local (`graft.plans.LocalRows`: a one-shot lookup, or a
    * serve stream's small micro-batch) and has at most
    * [[InTermsMax]] distinct terms, a literal In(term) that parquet
    * pushes down also filters postings and df, so on the term-sorted
    * layout row-group min/max stats skip everything but the matching
    * posting lists. */
  def bm25TopKWithIndex(queries: DataFrame, qIdCol: String,
      qTextCol: String, index: Bm25Index, k: Int = 5,
      stopwordCut: Boolean = true): DataFrame = {
    val (posts, dfr) = graft.plans.LocalRows.distinctElems(
        queries.select(tokens(col(qTextCol))), InTermsMax) match {
      case Some(qt) =>
        (index.postings.filter(col("term").isin(qt: _*)),
          index.dfreq.filter(col("term").isin(qt: _*)))
      case None => (index.postings, index.dfreq)
    }
    bm25Agg(posts, index.idCol, queries, qIdCol, qTextCol, dfr,
      index.totTokens, index.nDocs, k, stopwordCut,
      preWeight = true)
  }

  private def bm25Agg(tfLen: DataFrame, idCol: String,
      queries: DataFrame, qIdCol: String, qTextCol: String,
      dfreq: DataFrame, totTokens: Long, nDocs: Long,
      k: Int, stopwordCut: Boolean,
      preWeight: Boolean = false): DataFrame = {
    // optional stopword cut (see bm25TopK scaladoc); the Lucene-form
    // 1+odds keeps the integer quotient's bit length >= 1 for every
    // term, so uncut common terms score with idf 1 instead of
    // dropping out
    val cut =
      if (stopwordCut) dfreq.filter(col("__df") * 2 <= nDocs) else dfreq
    val keptDf = cut
      .withColumn("__idf", length(bin(
        expr(s"1 + (2 * ${nDocs}L - 2 * __df + 1) DIV (2 * __df + 1)")))
        .cast("long"))
    val qterms = queries
      .select(col(qIdCol).as("q_id"),
        explode(tokens(col(qTextCol))).as("term"))
      .distinct()
    val contrib = expr(
      s"(CAST(__idf AS DECIMAL(38,0)) * 22 * ${totTokens}L * __tf " +
        s"* 10000) DIV (10 * CAST(${totTokens}L AS DECIMAL(38,0)) " +
        s"* __tf + 3 * ${totTokens}L + 9 * __len * ${nDocs}L)")
    // JOIN ORDER IS THE PLAN, and the right order differs by SOURCE
    // (both arms sf-measured, both exact — inner-join reorder plus a
    // per-row long cast of an integral decimal, so sum-of-longs ≡
    // long-of-decimal-sum):
    //
    //  - STORED-index probes (preWeight): the per-term-per-doc
    //    CONTRIBUTION references only tf/len/idf — nothing from the
    //    query — yet the query-first order evaluates the decimal
    //    quotient once per (query, term, doc); a hot term sits in
    //    thousands of postings AND hundreds of batch queries, so that
    //    re-evaluates the heaviest expression per PAIR. Semi-pruning
    //    the posting scan to the batch's distinct terms, weighting
    //    each surviving (term, doc) ONCE, and fanning out only
    //    (q_id, doc, long) took the sf10 5000-query stored-index
    //    serve from 139 s to 82 s (ProfileBm25Ingest).
    //
    //  - FRESH paths (tfLen/df computed in-plan from the corpus):
    //    the broadcast query-term join comes FIRST, so the corpus tf
    //    table prunes map-side before anything vocab-sized joins —
    //    the (tfLen ⋈ dfreq) ⋈ qterms shape measured 2× slower at
    //    sf10 (ProfileBm25) with an estimate-dependent strategy on
    //    the vocab side, and the preWeight shape measured 4× SLOWER
    //    at sf1 on q_text_bm25 (4.7 → 19 s): with both dims computed
    //    from the same corpus scan in-plan, the extra semi-join stage
    //    re-shapes the shared subtrees against it. Stored posting
    //    files have none of that interaction.
    val scored = (if (preWeight) {
      // no distinct: a left-semi join ignores duplicate keys
      val qTermSet = qterms.select(col("term"))
      // NOT widened before the fan-out (round-19 measured-and-
      // rejected): on a gate-scale store the pruned posting rows run
      // this exchange-free segment as ONE task (scan = one split),
      // and a round-robin repartition to session width was tried —
      // the stage read 1.16-1.31 s at 32 tasks vs 1.15-1.19 s at one
      // (per-task broadcast/setup overhead eats the split), while
      // the exchange itself added cost on every serve batch. At
      // production scale the stored posting table scans as many
      // splits and the stage is wide without help.
      tfLen
        .join(broadcast(qTermSet), Seq("term"), "left_semi")
        .join(keptDf, "term")
        .select(col("term"), col(idCol),
          contrib.cast("long").as("__w"))
        .join(broadcast(qterms), "term")
    } else {
      tfLen
        .join(broadcast(qterms), "term")
        .join(keptDf, "term")
        .select(col("q_id"), col(idCol),
          contrib.cast("long").as("__w"))
    })
      .groupBy(col("q_id"), col(idCol))
      .agg(sum(col("__w")).as("score"))
    scored.groupBy(col("q_id"))
      .agg(graft.plans.GraftCall(graft.plans.VectorExpressions.TopKName,
        struct(col("score"), col(idCol).as("tb")), lit(k)).as("__top"))
      .select(col("q_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("q_id"), (col("__pos") + 1).cast("long").as("rank"),
        col("__e.tb").as(idCol), col("__e.score").as("score"))
  }

  /** Per-stratum token-length distribution — the profiling pass run
    * before choosing packing budgets and length-filter thresholds.
    * Returns (stratum, n_docs, min_tok, max_tok, p25, p50, p75, p90);
    * quantiles are exact with linear interpolation at rank (n-1)·q —
    * the SAME definition Spark's `percentile` and DuckDB's
    * `quantile_cont` implement, so the oracle replays it bit-for-bit
    * on integer inputs (rounded to 4dp for cross-engine safety).
    *
    * Scale shape: when `exact`, Spark's percentile keeps a
    * value→count map per group — bounded by DISTINCT metric values,
    * which for integer token counts is thousands, not corpus-sized,
    * so it holds at 100 TB for this metric; for unbounded-cardinality
    * metrics pass exact=false for approx_percentile's fixed-size
    * sketch (not oracle-exact, hence the default is the checkable
    * path). Either way: one partial-agg shuffle keyed by stratum. */
  def lengthQuantiles(df: DataFrame, strataCol: String, textCol: String,
      exact: Boolean = true): DataFrame = {
    val nTok = bpeTokenCount(col(textCol))
    def pct(q: Double, name: String) = {
      val e =
        if (exact) percentile(col("__n_tok"), lit(q))
        else percentile_approx(col("__n_tok"), lit(q), lit(10000))
      round(e.cast("double"), 4).as(name)
    }
    df.select(col(strataCol), nTok.as("__n_tok"))
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        min(col("__n_tok")).as("min_tok"),
        max(col("__n_tok")).as("max_tok"),
        pct(0.25, "p25"), pct(0.50, "p50"),
        pct(0.75, "p75"), pct(0.90, "p90"))
  }
}
