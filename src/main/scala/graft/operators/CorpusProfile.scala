package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Incremental, persistable corpus statistics — the stats-side mirror
  * of the persisted dedup/ANN indexes (`Dedup.writeMinhashIndex`,
  * `Similarity.IvfIndex`): per-stratum document/token/char counts and
  * the per-token document-frequency table, stored as parquet PARTIALS
  * that new ingest batches append to in O(batch). A 100 TB corpus's
  * profile (vocabulary, hapax counts, token mass per language — the
  * inputs to mixture design and rarity scoring) is then maintained
  * without ever rescanning the corpus; aggregation over the partial
  * rows happens at read time, and a periodic [[compact]] collapses the
  * accumulated partials back to one row per group.
  *
  * Exactness contract: every statistic here is an integer count, so
  * partials merge exactly (unlike sketch-based profiles, a merged
  * profile is bit-identical to a full recompute — oracle-gated by
  * q_profile_incremental). Document-frequency additivity requires
  * ingest batches to be DOC-DISJOINT, which ingest batches are by
  * construction; re-appending the same documents double-counts, same
  * as any changelog (reference analog: the append-only changelog
  * behind a recoverable store,
  * samza-kv/src/main/scala/org/apache/samza/storage/kv/LoggedStore.scala:1).
  */
object CorpusProfile {

  /** A profile over `strataCol`: `strata` rows are
    * (stratum, docs, tokens, chars) partials; `tokens` rows are
    * (stratum, token, df, tf) partials — df counts documents
    * containing the token, tf total occurrences. Frames may hold
    * multiple partial rows per group (one per appended batch);
    * [[stats]] and [[compact]] aggregate them. */
  final case class Profile(strata: DataFrame, tokens: DataFrame,
      strataCol: String, textCol: String)

  /** One aggregation pass over a corpus (or ingest batch). Scale
    * shape: the strata frame is one map-side-combined groupBy with
    * |strata| output rows; the token frame aggregates (stratum, doc,
    * token) first — map-side combine collapses each document's
    * repeated tokens before the shuffle — then (stratum, token), so
    * the only corpus-sized shuffle carries per-doc distinct tokens,
    * never raw text. */
  def build(df: DataFrame, idCol: String, strataCol: String,
      textCol: String): Profile = {
    val strata = df.groupBy(col(strataCol).as("stratum"))
      .agg(count(lit(1)).as("docs"),
        sum(tokenCount(col(textCol))).as("tokens"),
        sum(length(col(textCol)).cast("long")).as("chars"))
    val perDoc = df
      .select(col(strataCol).as("stratum"), col(idCol).as("__id"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col("stratum"), col("__id"), col("token"))
      .agg(count(lit(1)).as("__tf"))
    val tok = perDoc.groupBy(col("stratum"), col("token"))
      .agg(count(lit(1)).as("df"), sum(col("__tf")).as("tf"))
    Profile(strata, tok, strataCol, textCol)
  }

  val Kind = "corpus-profile"

  // the record's (strataCol, textCol): merging stats over different
  // columns would silently corrupt every count, so appends and reads
  // validate the caller's columns against it
  private def requireParamsMatch(rec: graft.store.Store.Record,
      dir: String, strataCol: String, textCol: String): Unit = {
    val stored = (rec.str("strataCol"), rec.str("textCol"))
    require(stored == ((strataCol, textCol)),
      s"corpus profile $dir was built over (strataCol,textCol)=" +
        s"$stored but the caller supplied ($strataCol,$textCol) — " +
        "merging stats over different columns would silently " +
        "corrupt every count")
  }

  /** Replace the stored profile at `dir` wholesale (one store write,
    * committed by its record). For ingest batches use [[ingestBatch]]. Applied tags
    * carry over (`graft.store.Store.write`), so a [[compact]] of a
    * streaming-maintained store keeps a replay of an already-applied
    * batch a no-op. */
  def write(profile: Profile, dir: String,
      targetFileBytes: Long = 128L << 20): Unit =
    graft.store.Store.write(profile.strata.sparkSession, dir, Kind,
        Map("strataCol" -> profile.strataCol,
          "textCol" -> profile.textCol)) { st =>
      st.plain("strata.parquet", profile.strata)
      // tokens = the vocabulary-sized half (df per term per stratum):
      // sized + floored so profile-fed scoring scans it in parallel
      st.sized("tokens.parquet", profile.tokens,
        targetFileBytes = targetFileBytes)
    }

  /** The one append to a stored profile: the [[build]] partials of
    * `docs` commit under `tag` in one record write, in O(batch) — the
    * corpus-sized file set is never rewritten, and tokens and strata
    * commit together. A committed tag replays as a no-op, a crashed
    * attempt's files are purged before the re-append, and an empty
    * batch commits nothing. Batch callers pass
    * `graft.store.Store.freshTag()`, streams `runId-batchId`. The store
    * must exist (seed it with [[write]]), and the columns are validated
    * against the record: a mismatch FAILS FAST instead of corrupting
    * every downstream count. The batch must be doc-disjoint from what
    * the store already covers (see the class contract); single writer
    * per dir, quiesce before [[compact]]/Maintenance. */
  def ingestBatch(docs: DataFrame, dir: String, idCol: String,
      strataCol: String, textCol: String, tag: String): Unit = {
    if (graft.plans.LocalRows.isEmpty(docs)) return
    val spark = docs.sparkSession
    val rec = graft.store.Store.require(spark, dir, Kind)
    requireParamsMatch(rec, dir, strataCol, textCol)
    val batch = build(docs, idCol, strataCol, textCol)
    graft.store.Store.append(spark, dir, rec, tag,
      Seq("tokens.parquet" -> batch.tokens,
        "strata.parquet" -> batch.strata))
  }

  /** Reload a stored profile (partials as stored — aggregate via
    * [[stats]]/[[compact]]) from one record snapshot. Column names are
    * validated against the record. */
  def read(spark: SparkSession, dir: String, strataCol: String,
      textCol: String): Profile = {
    val rec = graft.store.Store.require(spark, dir, Kind)
    requireParamsMatch(rec, dir, strataCol, textCol)
    Profile(
      graft.store.Store.table(spark, dir, rec, "strata.parquet"),
      graft.store.Store.table(spark, dir, rec, "tokens.parquet"),
      strataCol, textCol)
  }

  /** Collapse accumulated per-batch partials to one row per group and
    * write the compacted frames back — run periodically so read-time
    * aggregation cost stays bounded by |vocab|, not by batches since
    * the last compaction. */
  def compact(spark: SparkSession, dir: String, strataCol: String,
      textCol: String, targetFileBytes: Long): Unit =
    write(aggregated(read(spark, dir, strataCol, textCol)), dir,
      targetFileBytes)

  def compact(spark: SparkSession, dir: String, strataCol: String,
      textCol: String): Unit =
    compact(spark, dir, strataCol, textCol, 128L << 20)

  /** [[compact]] with (strataCol, textCol) recovered from the store
    * record — the form a maintenance pass that only knows the
    * DIRECTORY can call ([[Maintenance.compactAll]]). */
  def compact(spark: SparkSession, dir: String,
      targetFileBytes: Long): Unit = {
    val rec = graft.store.Store.require(spark, dir, Kind)
    compact(spark, dir, rec.str("strataCol"), rec.str("textCol"),
      targetFileBytes)
  }

  def compact(spark: SparkSession, dir: String): Unit =
    compact(spark, dir, 128L << 20)

  /** Whether the stored partials have drifted from fully-compacted
    * form: more token rows than distinct (stratum, token) groups —
    * i.e. at least one append landed since the last [[compact]]. One
    * vocab-bounded aggregation, no corpus scan. */
  def hasPartials(spark: SparkSession, dir: String): Boolean = {
    val tok = graft.sources.Sinks.readTagged(spark, s"$dir/tokens.parquet")
    val r = tok.agg(count(lit(1)).as("rows"),
      count_distinct(struct(col("stratum"), col("token"))).as("groups"))
      .head()
    r.getLong(0) > r.getLong(1)
  }

  /** The profile with partials collapsed: one row per stratum / per
    * (stratum, token). */
  def aggregated(p: Profile): Profile = Profile(
    p.strata.groupBy(col("stratum"))
      .agg(sum("docs").as("docs"), sum("tokens").as("tokens"),
        sum("chars").as("chars")),
    p.tokens.groupBy(col("stratum"), col("token"))
      .agg(sum("df").as("df"), sum("tf").as("tf")),
    p.strataCol, p.textCol)

  /** Per-stratum summary over a (possibly partial-rowed) profile:
    * (strataCol, docs, tokens, chars, vocab, hapax) — vocab is the
    * distinct-token count, hapax the tokens appearing in exactly one
    * document corpus-wide. Both only exist because the profile keeps
    * the exact df table: they are NOT mergeable as scalars (a token
    * hapax in two batches is not hapax in their union), which is the
    * point of storing the table and deriving the scalars at read. */
  def stats(p: Profile): DataFrame = {
    // torn-profile detection: token mass present without its strata
    // rows. The store commits both tables together, so only a profile
    // assembled outside it (tables appended by hand, frames unioned
    // by a caller) can be torn. This check is its OWN plan — a map-side-combined
    // token-mass aggregate full-joined against the strata sums, one
    // bounded action over |strata| rows (same class as the mixture
    // rate table) — rather than a persisted fork of the returned
    // summary: persisting the shared frame would leak a cache entry
    // per call for library callers outside the harness's
    // clear-cache-per-query convention, and would hide the summary's
    // real aggregation plan behind an InMemoryTableScan, blinding
    // ScaleLint/PLANS.md to it. The FULL join matters: a torn batch of
    // a NEW stratum leaves token rows with no strata row at all, which
    // a strata-driven join could never see.
    val tokMass = p.tokens.groupBy(col("stratum"))
      .agg(sum(col("tf")).as("__tokmass"))
    val committed = p.strata.groupBy(col("stratum"))
      .agg(sum(col("tokens")).as("__tokens"))
    val torn = tokMass.join(committed, Seq("stratum"), "full")
      .filter(col("__tokmass") > coalesce(col("__tokens"), lit(0L)))
      .select(col("stratum")).collect().map(_.get(0)).toSeq
    if (torn.nonEmpty)
      System.err.println(
        s"[graft] corpus profile INCONSISTENT for strata " +
          s"${torn.mkString("[", ", ", "]")}: per-stratum token mass " +
          "exceeds the strata table's token count — token partials " +
          "landed without their strata partials. Repair: add the " +
          "missing batch's STRATA partial, or " +
          "rebuild the store from the corpus with write(build(...)); " +
          "until then token-derived stats (vocab/hapax/tf) " +
          "over-count those strata by the torn batch.")
    val agg = aggregated(p)
    val vocab = agg.tokens.groupBy(col("stratum"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("hapax"))
    // left join + zero-fill: a stratum whose documents contain no
    // tokens at all has strata rows but no token rows, and an inner
    // join would silently drop it from the summary
    agg.strata.join(vocab, Seq("stratum"), "left")
      .na.fill(0L, Seq("vocab", "hapax"))
      .withColumnRenamed("stratum", p.strataCol)
  }
}
