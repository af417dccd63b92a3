package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for large-scale corpus pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, and SimHash.
  *
  * Scale design (the point of each algorithm at 100 TB):
  *  - exact: one hash-shuffle on a 32-char digest — the minimum
  *    possible; never shuffles document text, only (digest, id).
  *  - jaccard: exact all-pairs, but candidate generation uses
  *    PPJoin-style PREFIX FILTERING — only the first
  *    |d| - ceil(t·|d|) + 1 shingles of each document (under a global
  *    order) enter the inverted index, which provably loses no pair
  *    with Jaccard >= t while cutting the Σ postings² join cost
  *    roughly by (1-t)² (at t=0.5, ~4×). A length filter
  *    (min/max size >= t) prunes candidates before the pair-distinct.
  *  - MinHash+LSH: fixed-size signatures replace shingle sets, then
  *    banding buckets candidates; only candidate pairs are verified
  *    with true Jaccard. This is the linear-ish scale path.
  *  - SimHash: constant-size (bits-wide) signature per document;
  *    near-dup = small Hamming distance.
  *
  * Shuffle discipline: per-document shingle SETS are computed narrowly
  * (array_distinct over a materialized token array — no shuffle at
  * all); the only shuffles left are the candidate joins themselves.
  * Round 1 shuffled the exploded (id, shingle) index twice (distinct +
  * groupBy) before any candidates existed — at 100 TB those two
  * corpus-sized shuffles are the whole job.
  *
  * Hashes are cross-engine-stable (polynomial code-point hashes / md5),
  * so every result is reproducible in the DuckDB oracle — no JVM
  * hashCode dependence.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical-text group.
    * Returns (id, digest, copies). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("digest"))
      .groupBy(col("digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("copies"))
      .select(col(idCol), col("digest"), col("copies"))

  /** Distinct-shingle-set column over a token-array column, via the
    * codegen'd ShingleSet Catalyst expression (graft.plans
    * .TextExpressions) — one JIT loop, immune to the interpreted-HOF
    * re-evaluation trap (see ShingleKernel's doc). */
  def shingleSetCol(tokensArr: Column, n: Int): Column =
    graft.plans.GraftCall(graft.plans.TextExpressions.ShingleSetName,
      tokensArr, lit(n))

  /** Per-document distinct shingle set (SORTED ascending — the
    * ShingleSet contract), computed WITHOUT a shuffle:
    * (id, sh_set, sz). Documents with no shingles (fewer than n
    * tokens) are dropped. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol),
        shingleSetCol(tokens(col(textCol)), n).as("sh_set"))
      .filter(size(col("sh_set")) > 0)
      .withColumn("sz", size(col("sh_set")).cast("long"))

  /** All-pairs n-gram Jaccard: pairs of documents with
    * round(jaccard, 4) >= threshold. Returns (id_a, id_b, jaccard)
    * with id_a < id_b.
    *
    * Exact despite three layers of pruning (all PPJoin-family filters,
    * applied with an effective threshold tEff = t - 1e-4 so that pairs
    * whose RAW jaccard is just below t but ROUNDS to t are never
    * pruned — the final verification uses the rounded value):
    *  1. prefix filter: under any global total order on shingles, two
    *     sets with J >= t share an element within their first
    *     |x| - ceil(t·|x|) + 1 elements, so only prefixes enter the
    *     inverted index. The order used is ASCENDING DOCUMENT
    *     FREQUENCY (ties broken lexicographically) — the classic
    *     PPJoin choice: prefixes then hold each document's RAREST
    *     shingles, so the posting lists that get joined are the short
    *     ones. Under a lexicographic order a corpus-common shingle
    *     that sorts early lands its whole posting list in the index
    *     and the candidate join pays Σ|postings|² on it (measured at
    *     sf10: 628 s lex vs the frequency order's collapse of the
    *     same join — BASELINE.md §2 sf10 notes); frequency order
    *     makes hot shingles sort LAST, where prefixes never reach.
    *     Costs one df aggregation plus one per-doc re-sort shuffle —
    *     corpus-linear, the price of making candidate volume track
    *     rare-shingle postings instead of hot ones.
    *  2. length filter: J >= t forces min(sz)/max(sz) >= t;
    *  3. positional filter: prefixes are downward-closed in the sort
    *     order, so the smallest MATCHING shingle of a pair is its
    *     smallest COMMON element (in the global order); every common
    *     element sorts at or after it, hence
    *     overlap <= min(sz_a - pos_a, sz_b - pos_b) (0-based positions
    *     in the frequency-ordered sets). Pairs whose bound cannot
    *     reach the required overlap t(sz_a+sz_b)/(1+t) skip
    *     verification entirely. The argument is order-agnostic, so it
    *     survives the frequency order unchanged.
    * Each surviving candidate is verified with the true Jaccard over
    * the full (lexicographically sorted) sets. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxPostings: Int = 0): DataFrame = {
    val tEff = threshold - 1e-4
    // persisted: docs feeds the verify joins, prefixes feeds both
    // index sides. Lifecycle note: the caches outlive this call (the
    // result DataFrame references them); callers that loop over many
    // corpora should spark.catalog.clearCache() between runs, as
    // Verify/Bench do.
    val docs = shingleSets(df, idCol, textCol, n).persist()
    val exploded = docs.select(col(idCol), col("sz"),
      explode(col("sh_set")).as("shingle"))
    val dfreq = exploded.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__df"))
    // per-doc shingles re-sorted by the global (df, shingle) order;
    // prefix = the first |d| - ceil(t·|d|) + 1 of THAT order. The
    // array_sort of struct(__df, shingle) IS the total order (shingle
    // uniqueness within a doc makes it strict).
    val prefixes = exploded.join(dfreq, "shingle")
      .groupBy(col(idCol), col("sz"))
      .agg(collect_list(struct(col("__df"), col("shingle"))).as("__all"))
      .withColumn("prefix", slice(
        transform(array_sort(col("__all")), e => e.getField("shingle")),
        lit(1),
        (col("sz") - ceil(col("sz") * lit(tEff)) + lit(1)).cast("int")))
      .select(col(idCol), col("sz"), col("prefix"))
      .persist()
    val pa = prefixes.select(col(idCol).as("id_a"), col("sz").as("psz_a"),
      posexplode(col("prefix")).as(Seq("pos_a", "shingle")))
    val pb = prefixes.select(col(idCol).as("id_b"), col("sz").as("psz_b"),
      posexplode(col("prefix")).as(Seq("pos_b", "shingle")))
    // Optional stop-shingle guard: prefix filtering bounds TOTAL join
    // work, but a single near-universal shingle still lands its whole
    // posting list on one join key — |P|² pair rows in one task at
    // corpus scale. With maxPostings > 0, shingles whose posting list
    // exceeds the cap are SUB-BUCKETED, not dropped (dropping loses
    // pairs whose only shared prefix shingle is the hot one): the
    // id_a side is split into ceil(|P|/cap) salt buckets by id hash,
    // the id_b side replicated across them — every pair still meets
    // exactly once, on the key (shingle, salt), and no single key
    // carries more than cap·|P| pair rows. The hot-shingle table is
    // tiny by construction (few shingles exceed any sane cap), so it
    // broadcasts.
    val joined = if (maxPostings > 0) {
      val hot = pa.groupBy(col("shingle"))
        .agg(count(lit(1)).as("__pc"))
        .filter(col("__pc") > maxPostings)
        .select(col("shingle"),
          ceil(col("__pc") / lit(maxPostings)).cast("int").as("__buckets"))
      val aSalted = pa.join(broadcast(hot), Seq("shingle"), "left")
        .withColumn("__salt", when(col("__buckets").isNull, lit(0))
          .otherwise(pmod(hash(col("id_a")), col("__buckets"))))
        .drop("__buckets")
      val bReplicated = pb.join(broadcast(hot), Seq("shingle"), "left")
        .withColumn("__salt", explode(
          when(col("__buckets").isNull, array(lit(0)))
            .otherwise(sequence(lit(0), col("__buckets") - 1))))
        .drop("__buckets")
      aSalted.join(bReplicated, Seq("shingle", "__salt")).drop("__salt")
    } else pa.join(pb, "shingle")
    // For a fixed pair, match-shingle order equals position order on
    // BOTH sides (each side is sorted by the same global order), so
    // min(pos_a) and min(pos_b) both belong to the smallest matching
    // shingle — the pair's smallest common element. The aggregation
    // shuffles only integers and doubles as the pair-dedup the verify
    // needs.
    val candidates = joined
      .filter(col("id_a") < col("id_b") &&
        greatest(col("psz_a"), col("psz_b")) * lit(tEff) <=
          least(col("psz_a"), col("psz_b")))
      .groupBy(col("id_a"), col("id_b"), col("psz_a"), col("psz_b"))
      .agg(min(col("pos_a")).as("mpa"), min(col("pos_b")).as("mpb"))
      .withColumn("ub", least(col("psz_a") - col("mpa"),
        col("psz_b") - col("mpb")))
      // ub >= tEff(A+B)/(1+tEff), kept ceil-free in exact-enough form
      .filter(col("ub") * lit(1 + tEff) >=
        (col("psz_a") + col("psz_b")) * lit(tEff))
      .select("id_a", "id_b")
    verifyJaccard(candidates, docs, idCol, threshold)
  }

  /** Join candidate (id_a, id_b) pairs back to their (sorted) shingle
    * sets and keep pairs with true Jaccard >= threshold. Shared counts
    * use the codegen'd merge-intersect over the sorted sets — Spark's
    * array_intersect walks O(m·n) interpreted comparisons per pair and
    * was the dominant cost of the whole pipeline. */
  private def verifyJaccard(candidates: DataFrame, docs: DataFrame,
      idCol: String, threshold: Double): DataFrame = {
    // build side = the DOCUMENT table (|docs| rows), never the candidate
    // stream (|pairs| rows, quadratic-ish): without a hint Catalyst's
    // size estimate can pick the candidate side and build (or even
    // broadcast) a several-hundred-thousand-entry hash table per
    // action. shuffle_hash rather than broadcast: at corpus scale the
    // document table outgrows any broadcast threshold, and a
    // shuffled hash join on id keeps working. Memory envelope (a
    // shuffled hash join must FIT its build partition — the wall
    // q_join_composite_key measured at sf10 and moved to sort-merge
    // over): build here is |docs|/shufflePartitions rows × set bytes
    // (~16 MB/partition at sf10's 500k docs / 32 partitions), and
    // partition count scales with the cluster, so the fit is a
    // configuration invariant, not a data-size one. Sort-merge is the
    // wrong trade on THIS join: it would sort the wide shingle-set
    // payloads; the sets ride the build side untouched under hash.
    val aSide = docs.select(col(idCol).as("id_a"),
      col("sh_set").as("set_a"), col("sz").as("sz_a")).hint("shuffle_hash")
    val bSide = docs.select(col(idCol).as("id_b"),
      col("sh_set").as("set_b"), col("sz").as("sz_b")).hint("shuffle_hash")
    candidates.join(aSide, "id_a").join(bSide, "id_b")
      .withColumn("shared", graft.plans.GraftCall(
        graft.plans.TextExpressions.IntersectCountName,
        col("set_a"), col("set_b")))
      .withColumn("jaccard", round(col("shared").cast("double") /
        (col("sz_a") + col("sz_b") - col("shared")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash modulus (2^20) — matches TextFunctions.polyHash's range. */
  val MinhashMod: Int = 1 << 20

  /** MinHash signature column (array<long>, length numHashes) over a
    * shingle-set column, via the codegen'd MinHashSig Catalyst
    * expression (graft.plans.TextExpressions) — one JIT loop instead of
    * numHashes interpreted higher-order-function passes. */
  def minhashSigCol(shSet: Column, numHashes: Int): Column =
    graft.plans.GraftCall(graft.plans.TextExpressions.MinHashName, shSet,
      lit(numHashes), lit(7), lit(20))

  /** MinHash + LSH banding: candidate pairs from band-signature buckets,
    * then verified with true n-gram Jaccard. rowsPerBand minhashes are
    * concatenated per band; a pair is a candidate if ANY band matches.
    * Returns (id_a, id_b, jaccard) with jaccard >= threshold, id_a<id_b.
    *
    * One narrow pass computes the signature AND keeps the shingle set
    * for verification — zero shuffles before the (tiny) band join. Set
    * sizes are bounded by document length, so carrying sh_set is safe
    * at scale.
    *
    * Cache lifecycle (same contract as [[jaccardPairs]]): the
    * signature frame stays persisted because the returned plan reads
    * it on every action; callers looping over many corpora release it
    * with spark.catalog.clearCache() between runs, as Verify/Bench
    * do. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    require(numHashes % rowsPerBand == 0, "bands must tile the signature")
    val docs = shingleSets(df, idCol, textCol, n)
      .withColumn("sig", minhashSigCol(col("sh_set"), numHashes))
      .persist()
    // one pass computes every band key (explode of the shared
    // bandArrayCol literal — the SAME key scheme the incremental-index
    // path uses, so self-join and index-based pairs can never drift);
    // building each band as its own select would recompute the
    // signature once per band per join side
    val bands = docs.select(col(idCol),
      explode(bandArrayCol(numHashes, rowsPerBand)).as("band_key"))
    // verify candidates with true jaccard — only candidate pairs pay
    verifyJaccard(selfBandCandidates(bands, idCol), docs, idCol,
      threshold)
  }

  /** The self-join candidate block shared by [[minhashLshPairs]] and
    * [[minhashLshPairsFromIndex]] — ONE definition so the fresh and
    * stored-index pair paths can never drift (the same reasoning as
    * the shared bandArrayCol literal). */
  private def selfBandCandidates(bands: DataFrame,
      idCol: String): DataFrame = {
    val l = bands.select(col(idCol).as("id_a"), col("band_key"))
    val r = bands.select(col(idCol).as("id_b"), col("band_key"))
    l.join(r, "band_key")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Incremental ingest dedup: MinHash+LSH near-dup pairs BETWEEN a
    * new batch and an existing corpus — the daily-ingest shape that
    * must not re-dedup the whole corpus. Only cross-side band
    * collisions become candidates (batch-internal dups are
    * [[minhashLshPairs]] on the batch alone — orders of magnitude
    * smaller than corpus×corpus). Returns (id_a = new-side id,
    * id_b = existing-side id, jaccard >= threshold). Ids must be
    * unique across BOTH frames (one corpus id namespace).
    *
    * Cache lifecycle (same contract as [[jaccardPairs]]): the corpus
    * index frames and the batch signature frame stay persisted — the
    * returned plan reads them on every action (band join + verify
    * union), so unpersisting here would silently recompute signatures
    * per action instead. Callers running repeated ingest batches
    * release them with spark.catalog.clearCache() between runs, as
    * Verify/Bench do — or better, hold a [[MinhashIndex]] built once
    * via [[minhashIndex]] and feed each batch to
    * [[minhashLshPairsAgainstIndex]], which is this method's
    * implementation and the production shape.
    *
    * Scale shape: the existing corpus contributes one signature pass
    * (narrow, zero pre-candidate shuffles — in production you persist
    * its band table once and reuse it every ingest) and the band join
    * shuffles band keys, not documents; verification joins shingle
    * sets for candidate ids only, build side pinned exactly as in
    * [[minhashLshPairs]]. */
  def minhashLshPairsAgainst(newDf: DataFrame, existingDf: DataFrame,
      idCol: String, textCol: String, n: Int, numHashes: Int,
      rowsPerBand: Int, threshold: Double): DataFrame = {
    val idx = minhashIndex(existingDf, idCol, textCol, n, numHashes,
      rowsPerBand)
    idx.signed.persist()
    minhashLshPairsAgainstIndex(newDf, idx, threshold)
  }

  /** A corpus's precomputed MinHash-LSH index. `signed` is the ONE
    * frame that matters — (idCol, sh_set, sz, sig), the output of the
    * corpus's single narrow shingle+signature pass; `bands` (candidate
    * join side) and `docs` (verification side) are cheap projections
    * of it, so persisting or storing `signed` alone makes every
    * downstream read hit one materialization (persisting the two
    * projections separately would run the signature pass once EACH).
    * This is the state a production ingest pipeline keeps BETWEEN
    * batches — build once with [[minhashIndex]], persist (or write)
    * `signed`, and run every arriving batch through
    * [[minhashLshPairsAgainstIndex]]; the corpus is never
    * re-shingled, re-signed, or re-banded per ingest. Parameters ride
    * along so a batch cannot be joined against an index built under a
    * different banding scheme. */
  final case class MinhashIndex(signed: DataFrame, idCol: String,
      textCol: String, n: Int, numHashes: Int, rowsPerBand: Int) {
    // checked HERE, not only in the builder: the documented reload
    // path constructs the case class directly over a stored signed
    // frame, and a non-tiling band width would silently drop trailing
    // signature rows from every band key
    require(numHashes % rowsPerBand == 0, "bands must tile the signature")

    def bands: DataFrame = signed.select(col(idCol),
      explode(bandArrayCol(numHashes, rowsPerBand)).as("band_key"))
    def docs: DataFrame = signed.select(col(idCol), col("sh_set"),
      col("sz"))
  }

  // private[graft]: streaming.StreamDedup shares the SAME band-key
  // scheme so streaming-detected pairs can never drift from the batch
  // index's
  private[graft] def bandArrayCol(numHashes: Int, rowsPerBand: Int): Column = {
    val numBands = numHashes / rowsPerBand
    array((0 until numBands).map { b =>
      val cols = (0 until rowsPerBand)
        .map(r => element_at(col("sig"), b * rowsPerBand + r + 1))
      concat_ws("|", lit(b.toString) +: cols: _*)
    }: _*)
  }

  /** Write a [[MinhashIndex]]'s state to parquet under `dir` — the
    * cross-session form of the persist-`signed` discipline (and the
    * text-side mirror of `Similarity.IvfIndex.write`): the signature
    * pass runs once per corpus LIFETIME, not once per session.
    * Stage-then-swap like the IVF side, so writing an index whose
    * `signed` lazily reads `dir` back to the same `dir` is safe. To
    * append an ingest batch use [[minhashIngestBatch]] (O(batch)
    * tagged append, no corpus rewrite) — THIS function always
    * replaces the stored corpus wholesale. */
  def writeMinhashIndex(index: MinhashIndex, dir: String): Unit =
    graft.store.Store.write(index.signed.sparkSession, dir, MinhashKind,
        Map("n" -> index.n, "numHashes" -> index.numHashes,
          "rowsPerBand" -> index.rowsPerBand)) { st =>
      // sized + parallelism-floored like the BM25 posting store: the
      // signed table is what every later near-dup batch scans, and a
      // size-accurate-but-single file serializes that scan (measured
      // 914 s vs 147 s on the posting-table analog)
      st.sized("signed.parquet", index.signed)
    }

  val MinhashKind = "minhash-index"

  // the record's (n, numHashes, rowsPerBand): a mismatch would
  // silently produce disjoint band keys, so every read validates the
  // caller's scheme against it (the append signs with the record's)
  private def requireParamsMatch(rec: graft.store.Store.Record,
      dir: String, n: Int, numHashes: Int, rowsPerBand: Int): Unit = {
    val stored =
      (rec.int("n"), rec.int("numHashes"), rec.int("rowsPerBand"))
    val given = (n, numHashes, rowsPerBand)
    require(stored == given,
      s"minhash index $dir was built with (n,numHashes,rowsPerBand)=" +
        s"$stored but the caller supplied $given — a mismatch would " +
        "silently produce disjoint band keys")
  }

  /** The one append to a stored [[MinhashIndex]]: the batch is signed
    * under the STORED banding scheme (the record's params, so an append
    * can never land disjoint band keys) and only its signature rows
    * commit under `tag`, in O(batch) — the corpus-sized file set is
    * never rewritten. A committed tag replays as a no-op, a crashed
    * attempt's leftovers are purged before re-appending, and an empty
    * batch commits nothing. Batch callers pass
    * `graft.store.Store.freshTag()`, streams `runId-batchId`. Typical
    * batch loop: pair the batch first via
    * [[minhashLshPairsAgainstIndex]], then append its survivors. Same
    * id-disjointness and single-writer contracts as the other ingest
    * paths. */
  def minhashIngestBatch(batch: DataFrame, dir: String, idCol: String,
      textCol: String, tag: String): Unit = {
    if (graft.plans.LocalRows.isEmpty(batch)) return
    val spark = batch.sparkSession
    val rec = graft.store.Store.require(spark, dir, MinhashKind)
    val b = minhashIndex(batch, idCol, textCol, rec.int("n"),
      rec.int("numHashes"), rec.int("rowsPerBand"))
    graft.store.Store.append(spark, dir, rec, tag,
      Seq("signed.parquet" -> b.signed))
  }

  /** Full-corpus MinHash-LSH near-dup pairs from a stored index —
    * [[minhashLshPairs]] with the signature pass already paid: band
    * keys explode from the STORED signatures and verification joins
    * the stored shingle sets, so re-deduping a corpus (after ingest
    * grew its index) never re-shingles or re-signs it. Same key
    * scheme as the fresh path by construction (the shared
    * bandArrayCol literal), so the pair set is bit-identical. */
  def minhashLshPairsFromIndex(index: MinhashIndex,
      threshold: Double): DataFrame =
    verifyJaccard(selfBandCandidates(index.bands, index.idCol),
      index.docs, index.idCol, threshold)

  /** Reload a stored [[MinhashIndex]]. The params must match the ones
    * the index was built with — validated against the store record,
    * and the constructor re-validates band
    * tiling; a mismatched `n`/`numHashes` would silently produce
    * disjoint band keys, which is why they ride along in the case
    * class in the first place. */
  def readMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String, textCol: String, n: Int,
      numHashes: Int, rowsPerBand: Int): MinhashIndex = {
    val rec = graft.store.Store.require(spark, dir, MinhashKind)
    requireParamsMatch(rec, dir, n, numHashes, rowsPerBand)
    MinhashIndex(
      graft.store.Store.table(spark, dir, rec, "signed.parquet"), idCol,
      textCol, n, numHashes, rowsPerBand)
  }

  /** Build a [[MinhashIndex]] for a corpus: one narrow pass computes
    * shingle sets + signatures, the band explode is narrow too — no
    * shuffle at all. Persistence is the CALLER's choice (persist
    * `signed` for a session, [[writeMinhashIndex]] for daily
    * ingests). */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int): MinhashIndex = {
    // tiling validated by the MinhashIndex constructor itself
    MinhashIndex(
      signed = shingleSets(df, idCol, textCol, n)
        .withColumn("sig", minhashSigCol(col("sh_set"), numHashes)),
      idCol = idCol, textCol = textCol, n = n, numHashes = numHashes,
      rowsPerBand = rowsPerBand)
  }

  /** [[minhashLshPairsAgainst]] against a prebuilt corpus index: the
    * arriving batch pays one narrow signature pass; the corpus
    * contributes its stored band table to the candidate join and its
    * stored shingle sets to verification. Returns (id_a = batch id,
    * id_b = corpus id, jaccard >= threshold). */
  def minhashLshPairsAgainstIndex(newDf: DataFrame, index: MinhashIndex,
      threshold: Double): DataFrame = {
    val newDocs = shingleSets(newDf, index.idCol, index.textCol, index.n)
      .withColumn("sig", minhashSigCol(col("sh_set"), index.numHashes))
      .persist()
    val newBands = newDocs.select(col(index.idCol).as("id_a"),
      explode(bandArrayCol(index.numHashes, index.rowsPerBand))
        .as("band_key"))
    val candidates = newBands
      .join(index.bands.select(col(index.idCol).as("id_b"),
        col("band_key")), "band_key")
      .select("id_a", "id_b").distinct()
    val docs = newDocs.select(col(index.idCol), col("sh_set"), col("sz"))
      .union(index.docs)
    verifyJaccard(candidates, docs, index.idCol, threshold)
  }

  /** Connected components over duplicate pairs: every document that
    * appears in a pair gets the MINIMUM id reachable through pair
    * edges as its cluster id — the canonical-survivor assignment a
    * dedup pipeline applies after candidate generation (delete
    * everything whose id != cluster_id). Returns (doc_id, cluster_id).
    *
    * Min-label propagation, driver-coordinated like every iterative
    * graph algorithm on Spark: each round joins labels to neighbors
    * and takes the min; rounds needed = graph diameter (near-dup
    * clusters are shallow — pairs chain through shared content).
    * Each iteration persists its label table and unpersists the
    * previous one so lineage stays flat. Throws if `maxIters` rounds
    * do not converge rather than returning partial components. */
  /** Degree diagnostic for [[dupClusters]] input: a DEDUP graph has
    * small average degree (a document near-duplicates a handful of
    * others); a large one means the pair threshold sits inside the
    * corpus's background-similarity mode and the input is a
    * similarity graph, for which min-label propagation is the wrong
    * tool (measured: sf10 embeddings at cosine 0.3 → 6.8M pairs over
    * 200k nodes, avg degree 68, propagation OOM'd 8 GB and ran >28
    * minutes at 48 GB; cosine 0.6 → degree 0.7, clustered in 2 s —
    * BASELINE.md round-10 audit). Returns the warning to emit, None
    * when healthy. */
  private[graft] def densityWarning(nNodes: Long, nEdges: Long,
      warnDegree: Double = 16.0): Option[String] = {
    val deg = if (nNodes <= 0) 0.0 else nEdges.toDouble / nNodes
    if (deg <= warnDegree) None
    else Some(f"[graft] dupClusters: duplicate graph has average " +
      f"degree $deg%.1f ($nEdges directed edges over $nNodes nodes) " +
      "— this looks like a similarity graph, not dedup input; raise " +
      "the pair threshold above the corpus's background-similarity " +
      "mode (see BASELINE.md round-10 semantic-dedup envelope)")
  }

  /** Degree-capped sparsification of a pair graph: keep, per node, its
    * `maxDegree` STRONGEST incident edges (largest `weightCol`, ties →
    * smaller neighbor id), union over both endpoints — the standard
    * kNN-graph trim that turns a too-dense "dedup" graph (threshold
    * below the corpus's background-similarity mode) back into
    * something [[dupClusters]] can propagate over. Output is a SUBSET
    * of the input pairs with TOTAL edge volume ≤ maxDegree·|nodes|
    * (every kept edge is charged to at least one endpoint's top-D) —
    * the bound propagation cost needs; an individual hub's degree can
    * stay high only when many neighbors each rank it top-D (a star
    * keeps all its leaf edges, by design — union-kNN never
    * disconnects a node). Semantics under dedup
    * transitivity: dropping a node's weakest edges can only SPLIT
    * would-be clusters at their weakest links, never merge unrelated
    * ones — for near-dup clustering (shallow, strongly-connected
    * clusters) the strong edges carry the clusters, so this is the
    * documented graceful-degradation path past the density guard
    * (measured sf10 τ=0.3: 6.8M pairs, avg degree 68 → capped D=8
    * completes bounded where uncapped propagation OOM'd at 48 GB).
    *
    * Scale shape: two narrow projections + ONE bounded-heap TopK
    * aggregate keyed by node (map-side partials keep ≤ maxDegree rows
    * per node per task — a hot node never lands on one task at full
    * degree) + a distinct over ≤ 2·D·|nodes| rows. Never quadratic in
    * a node's degree. */
  def capDegree(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", weightCol: String,
      maxDegree: Int): DataFrame = {
    require(maxDegree >= 1, s"maxDegree must be >= 1, got $maxDegree")
    val directed = pairs.select(col(aCol).as("src"), col(bCol).as("dst"),
        col(weightCol).as("__w"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst"),
        col(weightCol).as("__w")))
    directed.groupBy(col("src"))
      .agg(graft.plans.GraftCall(graft.plans.VectorExpressions.TopKName,
        struct(col("__w").as("__w"), col("dst").as("__tb"),
          col("dst").as("__dst")),
        lit(maxDegree)).as("__top"))
      .select(col("src"), explode(col("__top")).as("__e"))
      .select(least(col("src"), col("__e.__dst")).as(aCol),
        greatest(col("src"), col("__e.__dst")).as(bCol),
        col("__e.__w").as(weightCol))
      .distinct()
  }

  /** `denseDegreeLimit`: the distributed path's hard density guard
    * (see [[dupClusters]]); [[densityWarning]]'s 16 stays the warning
    * line, this is the fail-fast line above it. */
  val DefaultDenseDegreeLimit = 32.0

  def dupClusters(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIters: Int = 50,
      localEdgeThreshold: Long = 2000000L,
      denseDegreeLimit: Double = DefaultDenseDegreeLimit): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
    val idType = edges.schema("src").dataType
    // the duplicate GRAPH is tiny relative to the corpus (edges scale
    // with near-duplicates, not documents): below the threshold, a
    // driver-side union-find beats N distributed propagation rounds of
    // fixed job overhead; the distributed loop below remains the path
    // for pathological billions-of-pairs graphs. ONE action decides
    // AND fetches: limit(threshold+1) either returns the whole edge
    // set (small graph) or overflows by one row (go distributed) —
    // no separate count() job. The driver path needs ids the JVM can
    // compare; binary/struct/map ids go distributed, where Spark's
    // own ordering handles them.
    val jvmComparable = {
      import org.apache.spark.sql.types._
      idType match {
        case _: NumericType | StringType | BooleanType | DateType |
            TimestampType | TimestampNTZType => true
        case _ => false
      }
    }
    val capped = math.min(localEdgeThreshold, Int.MaxValue - 2L).toInt
    val sample =
      if (jvmComparable) edges.limit(capped + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (jvmComparable && sample.length <= capped) {
      val parent = new java.util.HashMap[Any, Any]()
      def find(x0: Any): Any = {
        var x = x0
        while (parent.get(x) != x) {
          parent.put(x, parent.get(parent.get(x))) // path halving
          x = parent.get(x)
        }
        x
      }
      sample.foreach { r =>
        val (a, b) = (r.get(0), r.get(1))
        parent.putIfAbsent(a, a)
        parent.putIfAbsent(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          // min root so the final root IS the component minimum
          // (AtomicType externals — numbers, strings, timestamps — are
          // all java.lang.Comparable; guarded above)
          val cmp = ra.asInstanceOf[Comparable[Any]].compareTo(rb)
          if (cmp < 0) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      densityWarning(parent.size().toLong, sample.length.toLong)
        .foreach(System.err.println)
      import scala.jdk.CollectionConverters._
      val rows = parent.keySet().asScala.toSeq.map { id =>
        org.apache.spark.sql.Row(id, find(id))
      }
      return spark.createDataFrame(rows.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", idType),
          org.apache.spark.sql.types.StructField("cluster_id", idType))))
    }
    // distributed path: edges feed every propagation round — persist
    // once here, released after convergence
    edges.persist()
    var cached = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).persist()
    var labels = cached
    // density check before committing to propagation rounds: counts
    // are two cheap jobs over the persisted frames vs minutes of
    // wasted rounds (then an OOM) on a graph that isn't dedup input.
    // Past `denseDegreeLimit` the check is a HARD guard, not a
    // warning: the measured cliff (sf10 embeddings at cosine 0.3 —
    // avg degree 68) hung propagation 28 minutes and then OOM'd even
    // at 48 GB, and a user who ignores stderr must not pay that. The
    // guard names both outs; Double.PositiveInfinity opts out.
    val nNodes = cached.count()
    val nEdges = edges.count()
    densityWarning(nNodes, nEdges).foreach(System.err.println)
    val avgDeg = if (nNodes > 0) nEdges.toDouble / nNodes else 0.0
    if (avgDeg > denseDegreeLimit) {
      edges.unpersist(); cached.unpersist()
      throw new IllegalArgumentException(
        f"dupClusters: graph average degree $avgDeg%.1f ($nEdges " +
          f"directed edges over $nNodes nodes) exceeds " +
          f"denseDegreeLimit=$denseDegreeLimit%.0f — this is a " +
          "similarity graph, not dedup input, and label propagation " +
          "over it hangs then OOMs. Raise the pair threshold above " +
          "the corpus's background-similarity mode, or sparsify with " +
          "Dedup.capDegree(pairs, weightCol, maxDegree) first; pass " +
          "denseDegreeLimit = Double.PositiveInfinity to force the " +
          "uncapped run")
    }
    var iters = 0
    var changed = 1L
    while (changed > 0 && iters < maxIters) {
      // one-hop neighbor minimum...
      val nbrMin = edges
        .join(labels, edges("dst") === labels("id"))
        .groupBy(edges("src")).agg(min(col("label")).as("nmin"))
      val stepped = labels
        .join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(labels("id").as("id"), col("label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("l1"))
      // ...then pointer-jump through the previous mapping
      // (label(label(v))), halving remaining path length — rounds scale
      // with log(diameter) instead of diameter
      val lookup = labels.select(col("id").as("jid"), col("label").as("jl"))
      // LINEAGE CUT (round 18): persist() caches the DATA, but each
      // round's logical plan still nested the full history — labels
      // appears three times per round (neighbor-min, step, pointer
      // jump), so the analyzed tree grew ~3× per round and at sf10
      // (2.3M directed edges, 12+ rounds) the DRIVER OOM'd rendering
      // the plan string for the SQL listener before any executor ran.
      // Rebuilding the frame from its RDD makes every round's plan a
      // constant-size join over two leaf scans; the RDD lineage chain
      // stays linear (the newest link persisted, older links released
      // as each round retires its predecessor's cache).
      val updatedPlan = stepped
        .join(lookup, stepped("l1") === lookup("jid"), "left")
        .select(stepped("id").as("id"), col("label"),
          least(col("l1"), coalesce(col("jl"), col("l1"))).as("next"))
      val updated = spark
        .createDataFrame(updatedPlan.rdd, updatedPlan.schema)
        .persist()
      // single action per round: materializes the cache AND counts
      // outstanding changes
      changed = updated.filter(col("next") < col("label")).count()
      labels = updated.select(col("id"), col("next").as("label"))
      cached.unpersist() // the handle that owns the previous cache entry
      cached = updated
      iters += 1
    }
    require(changed == 0,
      s"dupClusters did not converge in $maxIters iterations")
    // the final label table stays cached (the returned DataFrame reads
    // from it; lineage stays valid either way) but the edge cache is
    // done — downstream actions never touch it again. Lifecycle of the
    // final cache follows the jaccardPairs convention: callers looping
    // over corpora should spark.catalog.clearCache() between runs.
    edges.unpersist()
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** SimHash over word unigrams with `bits`-wide polynomial hashes:
    * bit b of the signature is set iff more word-hashes have bit b set
    * than clear. Returns (id, simhash).
    *
    * One codegen'd pass per document (graft.plans.SimHashKernel) —
    * the composed-column form this replaces ran `bits` interpreted
    * `aggregate` HOF scans over every document's hash array, the exact
    * interpreted-lambda-in-the-hot-loop shape the other dedup kernels
    * exist to avoid. Null text hashes to 0 (no votes), as before. */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 20): DataFrame =
    df.select(col(idCol),
      coalesce(
        graft.plans.GraftCall(graft.plans.TextExpressions.SimHashName,
          tokens(col(textCol)), lit(7), lit(bits)),
        lit(0L)).as("simhash"))

  /** Exact shared-span duplicate detection: pairs of documents that
    * share at least `minShared` DISTINCT exact word-k-gram spans —
    * the substring-level dedup signal (documents with long verbatim
    * overlap share many consecutive k-grams even when their overall
    * Jaccard is low, e.g. a long document quoting a short one). The
    * distributed standard for this job is k-gram fingerprint
    * bucketing (suffix arrays being the single-machine alternative).
    * Returns (id_a, id_b, shared_spans) with id_a < id_b.
    *
    * Scale shape: per-document distinct k-gram sets are computed
    * without a shuffle ([[shingleSets]]); grams are 64-bit
    * fingerprints before the join, so the only corpus-sized shuffle
    * carries (long id, long gram) rows — never text. The pair count
    * aggregation shuffles (long, long, count) rows. With
    * `maxPostings > 0`, near-universal grams are sub-bucketed exactly
    * as in [[jaccardPairs]] (salt one side, replicate the other;
    * every pair still meets exactly once per shared gram, so counts
    * are unchanged) — without it a single stop-gram lands its whole
    * posting list's pair-square on one reduce key. */
  def sharedSpanPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, minShared: Long, maxPostings: Int = 0): DataFrame = {
    // NOT persisted, deliberately (A/B'd in round 10): the three
    // references do recompute the shingle pass, but it is a narrow
    // codegen scan, and caching the token-volume-sized exploded gram
    // frame costs as much as recomputing it (sf0.1 2.3 vs 2.3 s, sf1
    // 5.2 vs 4.2 s — the persist LOST at sf1). Stage persistence pays
    // when the repeated prefix contains shuffles/joins (see
    // q_pipeline_pretrain), not narrow scans.
    val grams = shingleSets(df, idCol, textCol, k)
      .select(col(idCol).as("__id"),
        explode(col("sh_set")).as("__gram"))
      .select(col("__id"), xxhash64(col("__gram")).as("g"))
    val a = grams.select(col("__id").as("id_a"), col("g"))
    val b = grams.select(col("__id").as("id_b"), col("g"))
    val joined = if (maxPostings > 0) {
      val hot = a.groupBy(col("g")).agg(count(lit(1)).as("__pc"))
        .filter(col("__pc") > maxPostings)
        .select(col("g"),
          ceil(col("__pc") / lit(maxPostings)).cast("int").as("__buckets"))
      val aSalted = a.join(broadcast(hot), Seq("g"), "left")
        .withColumn("__salt", when(col("__buckets").isNull, lit(0))
          .otherwise(pmod(hash(col("id_a")), col("__buckets"))))
        .drop("__buckets")
      val bReplicated = b.join(broadcast(hot), Seq("g"), "left")
        .withColumn("__salt", explode(
          when(col("__buckets").isNull, array(lit(0)))
            .otherwise(sequence(lit(0), col("__buckets") - 1))))
        .drop("__buckets")
      aSalted.join(bReplicated, Seq("g", "__salt")).drop("__salt")
    } else a.join(b, "g")
    joined.filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_spans"))
      .filter(col("shared_spans") >= minShared)
  }

  /** Per-document DUPLICATED-SPAN FRACTION — the doc-level signal of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022): for each document, the fraction of its word
    * k-gram window POSITIONS whose k-gram also appears in at least
    * one OTHER document. [[sharedSpanPairs]] answers "which pairs
    * overlap"; this answers "how much of THIS document is boilerplate
    * the corpus already has" — the number a curation pipeline
    * thresholds on to drop near-template documents without ever
    * materializing the quadratic pair set. Returns (idCol, n_windows,
    * n_shared, shared_bp) with shared_bp = n_shared·10⁴ DIV
    * n_windows in integer basis points; documents with fewer than k
    * tokens are excluded (no windows to score). Positions are counted
    * raw (a doc-internal repeat of a shared gram counts each
    * occurrence — it IS duplicated surface), but "shared" means ≥ 2
    * DISTINCT documents, so purely internal repetition never marks a
    * document.
    *
    * Scale shape: the corpus is tokenized+exploded TWICE (once per
    * aggregation arm — column pruning gives the arms different
    * aggregate subtrees, so the exchange cannot be reused, and
    * caching the k·tokens-row exploded frame measurably LOSES, the
    * [[sharedSpanPairs]] A/B), but both passes are narrow codegen
    * scans feeding map-side-combined aggregates, and — the part that
    * matters — every shuffled row carries a 60-BIT FINGERPRINT, not
    * gram text: grams are hashed to a long before the first exchange
    * (the [[sharedSpanPairs]] fingerprint trick; at sf10 the
    * text-keyed shuffle spilled and run-to-run spill placement
    * swung the query 27→80 s), and the JOIN carries only aggregated
    * rows — distinct (doc, fp) against one row per distinct fp,
    * never the raw positions frame. The fingerprint is the md5-hex
    * prefix BOTH engines compute identically (the weighted-sampler
    * idiom), so the ~n²/2⁶¹ collision mass (a conflated gram marks a
    * few windows spuriously shared) is replayed bit-for-bit by the
    * oracle — the fingerprinted gram IS the committed contract.
    * Hot-gram skew is probe-side only and AQE's skew split covers it
    * (the LmScore join argument). Never a pair join: cost is linear
    * in corpus tokens where the pair set is quadratic in
    * duplicate-cluster sizes. */
  def dupSpanFraction(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "dupSpanFraction: k must be >= 1")
    val grams = df
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= k)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("__t")) - (k - 1)),
        i => conv(substring(md5(
          concat_ws(" ", slice(col("__t"), i, lit(k)))), 1, 15), 16, 10)
          .cast("long"))).as("__gram"))
    // (doc, gram) -> position count: the ONLY pass over the exploded
    // frame; both arms below share its exchange
    val perDocGram = grams.groupBy(col(idCol), col("__gram"))
      .agg(count(lit(1)).as("__np"))
    val perGram = perDocGram.groupBy(col("__gram"))
      .agg(count(lit(1)).as("__nd")) // rows are distinct (doc, gram)
    perDocGram.join(perGram, Seq("__gram"))
      .groupBy(col(idCol))
      .agg(sum(col("__np")).as("n_windows"),
        sum(when(col("__nd") >= 2, col("__np")).otherwise(0L))
          .as("n_shared"))
      .withColumn("shared_bp", expr("n_shared * 10000 DIV n_windows"))
  }
}
