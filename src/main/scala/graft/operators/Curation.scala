package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Corpus-curation operators a training-data pipeline runs after
  * dedup/quality filtering: benchmark decontamination, deterministic
  * stratified sampling, per-group caps, sequence packing, and
  * survivor selection. Like the rest of the engine, every operator is
  * a declarative plan whose shuffle structure is chosen for the
  * 100 TB case, and every one is oracle-checkable (CurationQueries).
  */
object Curation {

  /** (idCol, gram) rows: each document's DISTINCT word n-grams —
    * the shared first stage of every decontamination form. */
  private def gramsOf(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = df
    .select(col(idCol), tokens(col(textCol)).as("__w"))
    .select(col(idCol),
      explode(array_distinct(shinglesOfTokens(col("__w"), n))).as("gram"))

  /** Build the benchmark's gram bloom filter (xxhash64 over distinct
    * word n-grams, distributed treeAggregate build) and return its
    * serialized bytes — MBs at 1% fpp for millions of grams. The
    * probe side of every bloom decontamination form, including the
    * streaming ingest filter (`StreamJobs.decontaminateStream`). */
  def benchGramBloom(bench: DataFrame, idCol: String, textCol: String,
      n: Int, fpp: Double): Array[Byte] = {
    val hashed = gramsOf(bench, idCol, textCol, n)
      .select(xxhash64(col("gram")).as("h")).distinct()
    val expected = math.max(1L, hashed.count())
    val bf = hashed.stat.bloomFilter("h", expected, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Persist a benchmark gram bloom ([[benchGramBloom]]) — benchmark
    * releases are versioned artifacts, so a 100 TB batch job or a
    * streaming ingest (`StreamJobs.decontaminateStream`) loads the
    * bloom at job start instead of rebuilding it from the benchmark
    * corpus every run. The bloom is a one-file store table, `bloom`,
    * landed and committed through the store record like every other
    * store's tables; the record is validated on read (a bloom built
    * over a different gram width would silently probe disjoint hashes
    * — that must fail fast, not filter nothing). */
  def writeBenchBloom(spark: org.apache.spark.sql.SparkSession,
      dir: String, bloomBytes: Array[Byte], n: Int,
      fpp: Double): Unit =
    graft.store.Store.write(spark, dir, BenchBloomKind,
        Map("n" -> n, "fpp" -> fpp)) { st =>
      st.table("bloom", Nil) { p =>
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val out = fs.create(new org.apache.hadoop.fs.Path(p, "bloom.bin"), true)
        try out.write(bloomBytes) finally out.close()
      }
    }

  val BenchBloomKind = "bench-bloom"

  /** Reload a stored benchmark bloom. The caller's gram width must
    * match the stored one — validated against the store record. */
  def readBenchBloom(spark: org.apache.spark.sql.SparkSession,
      dir: String, n: Int): Array[Byte] = {
    val rec = graft.store.Store.require(spark, dir, BenchBloomKind)
    val stored = rec.int("n")
    require(stored == n,
      s"bench bloom $dir was built over $stored-grams but the " +
        s"caller supplied n=$n — probing with a different gram " +
        "width would silently match nothing")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(
      new org.apache.hadoop.fs.Path(s"$dir/bloom/${rec.files("bloom").head}"))
    try in.readAllBytes() finally in.close()
  }

  /** Boolean column: does `textCol` share ANY word n-gram with the
    * bloom's benchmark set? A pure narrow expression (codegen
    * BloomContains inside a higher-order exists — no explode, no
    * shuffle), usable as a batch OR STREAMING scan filter. Probable
    * in the bloom sense: false positives at the build fpp, never a
    * false negative. */
  def gramHit(textCol: Column, bloomBytes: Array[Byte],
      n: Int): Column =
    exists(array_distinct(shinglesOfTokens(tokens(textCol), n)),
      g => graft.plans.GraftCall(
        graft.plans.SketchExpressions.BloomContainsName,
        xxhash64(g), lit(bloomBytes)))

  /** Benchmark decontamination: for each corpus document, the number
    * of distinct word `n`-grams it shares with ANY benchmark document.
    * Only contaminated documents (n_hits >= 1) are returned — callers
    * anti-join the result to drop them, or threshold on n_hits.
    *
    * Scale shape: the benchmark side is tiny by definition (eval sets
    * are MBs; corpora are TBs), so its distinct gram set is BROADCAST
    * and the corpus side never shuffles to find its matches. The only
    * shuffle is the per-doc hit count over rows that actually matched
    * — at a sane contamination rate that is a vanishing fraction of
    * the corpus. Grams are distinct per document on both sides, so
    * count(*) after the join IS the distinct shared-gram count.
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val benchGrams = gramsOf(bench, idCol, textCol, n)
      .select("gram").distinct()
    gramsOf(corpus, idCol, textCol, n)
      .join(broadcast(benchGrams), "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** The distinct word n-gram SET of a corpus slice — the frame
    * [[decontaminateWithSet]] probes against, for callers whose
    * "benchmark" is NOT broadcast-tiny (a train/test leakage audit
    * checks against a 10%-of-corpus split; [[decontaminate]]'s
    * forced broadcast would ship a corpus-fraction-sized gram table
    * to every executor). The probe's semi join then lets Catalyst
    * pick the join strategy from the set's actual size. */
  def gramSet(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    gramsOf(df, idCol, textCol, n).select("gram").distinct()

  /** Bloom-filter decontamination — the 100 TB path when even the
    * benchmark gram set is too hot to broadcast-join comfortably, or
    * when the probe must run as a plain scan filter (e.g. inside a
    * streaming ingest). The bench grams are compacted into a bloom
    * filter once (distributed treeAggregate build, MBs at 1% fpp for
    * millions of grams) and the corpus side runs ONE codegen'd narrow
    * Filter — no join, no shuffle, no broadcast exchange. Returns the
    * same (idCol, n_hits) shape as [[decontaminate]], with n_hits
    * counting PROBABLE hits: supersets of the exact result at the
    * configured false-positive rate, never missing a true hit — so a
    * downstream [[decontaminate]] pass over the survivors (now
    * fpp-sized) can make it exact. Spec-gated (no SQL oracle can
    * replay a bloom filter bit-for-bit): CurationSpec pins the
    * no-false-negative guarantee and the join-free plan shape. */
  def decontaminateBloom(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int,
      fpp: Double = 0.01): DataFrame = {
    val bloom = benchGramBloom(bench, idCol, textCol, n, fpp)
    gramsOf(corpus, idCol, textCol, n)
      .filter(graft.plans.GraftCall(
        graft.plans.SketchExpressions.BloomContainsName,
        xxhash64(col("gram")), lit(bloom)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Exact decontamination on the bloom scale path: the join-free
    * [[decontaminateBloom]] probe drops the non-matching majority of
    * corpus grams with ONE codegen'd narrow Filter, and only the
    * fpp-sized survivor stream meets the exact broadcast gram join —
    * which kills the bloom's false positives, so the output is
    * IDENTICAL to [[decontaminate]] (the bloom never false-negatives).
    * This is the 100 TB composition: the broadcast-join hash probe and
    * the per-doc hit-count shuffle both run over fpp·|corpus grams|
    * rows instead of every gram in the corpus, and the bloom bytes
    * (MBs at 1% fpp) ship once per executor inside the serialized
    * filter expression. Shares q_decontaminate's DuckDB oracle —
    * exactness of the two-phase plan is gate-checked, not claimed. */
  def decontaminateExactViaBloom(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int,
      fpp: Double = 0.01): DataFrame = {
    val benchGrams = gramsOf(bench, idCol, textCol, n)
      .select("gram").distinct()
    // bloom built from the SAME distinct-gram frame the exact join
    // uses — one gram pass over the bench side, not two
    val hashed = benchGrams.select(xxhash64(col("gram")).as("h"))
    val expected = math.max(1L, hashed.count())
    val bf = hashed.stat.bloomFilter("h", expected, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bloom = bos.toByteArray
    gramsOf(corpus, idCol, textCol, n)
      .filter(graft.plans.GraftCall(
        graft.plans.SketchExpressions.BloomContainsName,
        xxhash64(col("gram")), lit(bloom)))
      .join(broadcast(benchGrams), "gram") // exact pass over survivors only
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Fuzzy benchmark decontamination: corpus documents whose text
    * NEAR-duplicates any benchmark document at shingle-Jaccard >=
    * `threshold`. Complements [[decontaminate]] rather than replacing
    * it: the exact op flags any shared n-gram (span-level, maximally
    * sensitive — but one shared boilerplate gram is enough to flag),
    * while this one measures DOCUMENT-level match strength, the
    * signal a pipeline uses to find wholesale benchmark leakage
    * (re-crawled, re-wrapped eval documents) with a precision knob:
    * returns (idCol, n_matches, max_jaccard) — matched benchmark doc
    * count and strongest match — so callers threshold on strength
    * instead of dropping every gram-sharer.
    *
    * Scale shape: rides the MinHash-LSH incremental machinery with the
    * BENCHMARK as the probe side — both sides get one narrow
    * signature pass, the band join's probe side is eval-set-sized
    * (tiny by definition), and only band-colliding candidates reach
    * the verify stage. The corpus is never all-pairs'd against the
    * benchmark and never shuffles its text. */
  def decontaminateFuzzy(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int, numHashes: Int,
      rowsPerBand: Int, threshold: Double): DataFrame =
    Dedup.minhashLshPairsAgainst(bench, corpus, idCol, textCol, n,
        numHashes, rowsPerBand, threshold)
      .groupBy(col("id_b").as(idCol))
      .agg(count(lit(1)).as("n_matches"),
        max(col("jaccard")).as("max_jaccard"))

  // ── persisted decontamination set ──────────────────────────────────
  //
  // The benchmark-gram store the STREAMING decontamination serve
  // probes (StreamJobs.deconLookupStream): eval benchmarks change
  // rarely, corpora arrive forever, so the gram extraction over the
  // benchmark should be paid once at write time, not once per batch.
  // Layout: grams.parquet (distinct word n-grams, gram-sorted sized
  // files so the probe's semi join gets file-level min/max pruning)
  // with the gram width n as a store record param. Appends commit
  // under a fresh tag like every store's; the probe is a semi join,
  // so duplicate grams from appends are semantically invisible.

  val DeconSetKind = "decon-set"

  /** Write a benchmark's distinct word n-grams as a persisted
    * decontamination set at `dir` (one store write, committed by its
    * record). */
  def writeDeconSet(bench: DataFrame, idCol: String, textCol: String,
      n: Int, dir: String, targetFileBytes: Long = 128L << 20): Unit = {
    require(n >= 1, "writeDeconSet: n must be >= 1")
    writeGrams(gramsOf(bench, idCol, textCol, n).select("gram").distinct(),
      n, dir, targetFileBytes)
  }

  private def writeGrams(grams: DataFrame, n: Int, dir: String,
      targetFileBytes: Long): Unit =
    graft.store.Store.write(grams.sparkSession, dir, DeconSetKind,
        Map("n" -> n)) { st =>
      st.sized("grams.parquet", grams, Seq("gram"), targetFileBytes)
    }

  /** The stored set's (grams frame, gram width n). Fails fast on a
    * directory that is not a decon set store. */
  def readDeconSet(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, Int) = {
    val rec = graft.store.Store.require(spark, dir, DeconSetKind)
    (graft.store.Store.table(spark, dir, rec, "grams.parquet"),
      rec.int("n"))
  }

  /** O(batch) append of a new benchmark's grams to a stored set. The
    * batch's grams land as unsorted extra files (the record marks the
    * table unsorted until [[deconSetCompact]]); probe results are
    * correct immediately, because the semi-join probe is duplicate-
    * and order-insensitive. An empty batch commits nothing, so a serve
    * beside it keeps its cached set. Single-writer-per-dir is the
    * caller's contract, as for every store. */
  def deconSetAppend(bench: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    if (bench.isEmpty) return
    val spark = bench.sparkSession
    val rec = graft.store.Store.require(spark, dir, DeconSetKind)
    graft.store.Store.append(spark, dir, rec, graft.store.Store.freshTag(),
      Seq("grams.parquet" ->
        gramsOf(bench, idCol, textCol, rec.int("n")).select("gram")
          .distinct()))
  }

  /** Re-distinct + re-sort + re-pack the stored set — the maintenance
    * pass appends accumulate toward
    * ([[graft.operators.Maintenance.compactAll]] dispatches here). */
  def deconSetCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String, targetFileBytes: Long = 128L << 20): Unit = {
    val (grams, n) = readDeconSet(spark, dir)
    writeGrams(grams.distinct(), n, dir, targetFileBytes)
  }

  /** [[decontaminate]] against a STORED set: count each document's
    * distinct grams present in the set. The semi join makes this
    * identical to the inner-join-distinct form while staying exact
    * over a set holding duplicates (post-append state). Broadcast
    * when the set is small; at benchmark scale it always is —
    * Catalyst picks it from the store's file-size stats. */
  def decontaminateWithSet(corpus: DataFrame, set: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    gramsOf(corpus, idCol, textCol, n)
      .join(set.select("gram"), Seq("gram"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))

  /** PII patterns masked by [[maskPii]], in application order. Kept
    * deliberately RE2-compatible (no backrefs/lookaround) so the same
    * pattern strings run identically on Spark's Java regex and
    * engines like DuckDB/RE2 — an oracle can replay the masking
    * bit-for-bit. The email pattern is matched before the IP pattern
    * so a digits-only domain can't be double-masked. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
      "<EMAIL>"),
    ("ip", "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
    ("phone", "(?:\\+?\\d{1,3}[-. ])?\\d{3}[-. ]\\d{3,4}[-. ]\\d{3,4}",
      "<PHONE>"))

  /** PII redaction: mask emails, IPv4 addresses, and phone-shaped
    * numbers in `textCol`, returning (idCol, masked text, one count
    * column per pattern) — the redaction pass a pretrain pipeline
    * runs before packing. Deterministic, content-only, and
    * engine-portable by construction ([[PiiPatterns]]).
    *
    * Each pattern is counted on the PROGRESSIVELY-MASKED text (the
    * text with every earlier pattern already replaced), i.e. n_X
    * counts exactly the spans the X pass replaces. Counting on the
    * original text instead would inflate overlapping patterns — a
    * plain IPv4 like 192.168.100.200 also matches the phone shape,
    * but the IP pass masks it first, so the phone pass never touches
    * it and n_phone correctly excludes it (CurationSpec pins this).
    *
    * Scale shape: pure narrow projection — regex scans stay inside
    * whole-stage codegen, no shuffle, no UDF. */
  def maskPii(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val (masked, counts) = PiiPatterns
      .foldLeft((col(textCol), Seq.empty[Column])) {
        case ((cur, cs), (name, pat, repl)) =>
          val cnt = size(regexp_extract_all(cur, lit(pat), lit(0)))
            .cast("long").as(s"n_$name")
          (regexp_replace(cur, pat, repl), cs :+ cnt)
      }
    df.select(col(idCol) +: masked.as("masked") +: counts: _*)
  }

  /** Deterministic hash-threshold sampling with per-stratum rates:
    * a row is kept iff the first 4 hex chars of md5(seedCols joined
    * by ':') sort below the stratum's threshold. Rates are quantized
    * to 1/65536 granularity.
    *
    * Properties a training pipeline needs and `rand()`-based sampling
    * lacks: reproducible across reruns/retries/partitionings (the
    * hash depends only on row content), stable under corpus growth
    * (a row's fate never changes when neighbors are added), and
    * engine-portable (md5 is md5 everywhere — the DuckDB oracle
    * replays it exactly). Pure narrow projection+filter: no shuffle,
    * scan-scales linearly.
    */
  def sampleStratified(df: DataFrame, strataCol: String,
      rates: Map[String, Double], defaultRate: Double,
      seedCols: Seq[String]): DataFrame = {
    def thresholdFor(rate: Double): Option[String] =
      if (rate >= 1.0) None // keep all; no 4-hex string is >= "10000"
      else Some(f"${math.max(0, (rate * 65536).toInt)}%04x")
    val hash = substring(
      md5(concat_ws(":", seedCols.map(c => col(c).cast("string")): _*)),
      1, 4)
    val keep = rates.foldLeft(
      thresholdFor(defaultRate).map(hash < lit(_)).getOrElse(lit(true))) {
      case (acc, (stratum, rate)) =>
        when(col(strataCol) === stratum,
          thresholdFor(rate).map(hash < lit(_)).getOrElse(lit(true)))
          .otherwise(acc)
    }
    df.filter(keep)
  }

  /** Keep at most `k` rows per group, the ones with the SMALLEST
    * `ordCol` (deterministic survivor choice). `ordCol` must be
    * numeric (the min-order inversion negates it); order timestamps
    * by casting to epoch first. Returns (groupCol, ordCol) pairs of
    * the survivors.
    *
    * Scale shape: this is the per-domain / per-source cap a crawl
    * pipeline applies, and the naive `row_number().over(partitionBy)`
    * form shuffles EVERY row of a group into one task before
    * discarding all but k — a straggler-then-OOM on a 100 TB skewed
    * domain. Reuses the BoundedTopK bounded-heap aggregate
    * (plans/TopKAggregate.scala): map-side partial aggregation keeps
    * <= k rows per group per task, the shuffle carries
    * <= k * partitions rows per group. */
  def capPerGroup(df: DataFrame, groupCol: String, ordCol: String,
      k: Int): DataFrame = {
    // BoundedTopK keeps the k LARGEST by field0 (desc, tie field1
    // asc); negate the order column to keep the k smallest.
    df.groupBy(col(groupCol))
      .agg(graft.plans.GraftCall(graft.plans.VectorExpressions.TopKName,
        struct(negate(col(ordCol)).as("__neg"), col(ordCol).as("__id")),
        lit(k)).as("__top"))
      .select(col(groupCol), explode(col("__top")).as("__e"))
      .select(col(groupCol), col("__e.__id").as(ordCol))
  }

  /** Exact-k uniform sample per stratum, deterministic: the k rows
    * with the LARGEST md5(seedCols) hash win. Hash order is uniform
    * and content-derived, so the sample is reproducible across reruns
    * and partitionings (same contract as [[sampleStratified]]) while
    * hitting the stratum size exactly — the property quota-based eval
    * or calibration sets need that rate-based sampling can't give.
    *
    * Scale shape: same bounded-heap aggregate as [[capPerGroup]] —
    * map-side partials keep <= k rows per stratum per task; never a
    * window sort. Returns (strataCol, idCol). */
  def sampleExactK(df: DataFrame, strataCol: String, idCol: String,
      k: Int, seedCols: Seq[String]): DataFrame = {
    val hash = md5(concat_ws(":",
      seedCols.map(c => col(c).cast("string")): _*))
    // tie-break on the row id, not the hash itself: two rows with
    // identical seedCols content share an md5, and a hash-as-tiebreak
    // winner would depend on partition/merge order — breaking the
    // determinism contract above. Smallest id wins a hash tie.
    df.groupBy(col(strataCol))
      .agg(graft.plans.GraftCall(graft.plans.VectorExpressions.TopKName,
        struct(hash.as("__h"), col(idCol).as("__tb"), col(idCol).as("__id")),
        lit(k)).as("__top"))
      .select(col(strataCol), explode(col("__top")).as("__e"))
      .select(col(strataCol), col("__e.__id").as(idCol))
  }

  /** Deterministic WEIGHTED sampling — Duffield–Lund–Thorup priority
    * sampling ("Priority sampling for estimation of arbitrary subset
    * sums", JACM 2007) with the uniform made hash-seeded integer:
    * u = the seed's first 12 md5 hex digits (48-bit fixed point),
    * priority = u DIV weight, keep the k SMALLEST priorities per
    * stratum (order-equivalent to DLT's keep-largest weight/u; ties
    * break by ascending id). Selection probability rises with weight —
    * the quality-weighted subsampling a mixture builder runs — while
    * staying deterministic across reruns, partitionings, and corpus
    * growth like every sampler here, and the committed contract is
    * the INTEGER rule itself, replayed verbatim by the DuckDB oracle.
    * Rows with non-positive weight are never sampled (filtered).
    * Weights should sit well below 2^48, or priorities collapse into
    * id-ordered ties. Per-stratum bounded-heap top-k — map-side
    * partials, a hot stratum never lands on one task; never a
    * window. */
  def sampleWeighted(df: DataFrame, strataCol: String, idCol: String,
      weightCol: String, k: Int, seedCols: Seq[String]): DataFrame = {
    require(k >= 1, "sampleWeighted: k must be >= 1")
    require(seedCols.nonEmpty, "sampleWeighted: seedCols must be non-empty")
    // integral weights only: a silent cast("long") would TRUNCATE
    // fractional weights (0.9 -> excluded as 0, 1.7 -> 1), changing
    // selection probabilities without any error — fail fast instead;
    // callers with fractional weights own the scaling to integers
    // resolve case-insensitively, as the analyzer will (a guard that
    // is stricter than the query it guards would reject working calls)
    val wt = df.schema.fields
      .find(_.name.equalsIgnoreCase(weightCol)).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"sampleWeighted: no column `$weightCol`"))
    val integral = wt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      // scale-0 decimals (parquet count columns) truncate nothing —
      // but only up to precision 18: a wider decimal can exceed Long
      // range, and the non-ANSI cast("long") below would yield NULL
      // for such rows, silently dropping them at the >= 1 filter (the
      // exact silent-exclusion class this guard exists to prevent)
      case d: org.apache.spark.sql.types.DecimalType =>
        d.scale == 0 && d.precision <= 18
      case _ => false
    }
    if (!integral)
      throw new IllegalArgumentException(
        s"sampleWeighted: weight column `$weightCol` must be integral " +
          s"and Long-ranged (got ${wt.simpleString}); scale fractional " +
          "weights to integers explicitly — a silent truncation would " +
          "change selection probabilities (for milli-unit fixed-point " +
          "scaling use Curation.weightScaledMilli)")
    val u = conv(substring(md5(concat_ws(":",
      seedCols.map(c => col(c).cast("string")): _*)), 1, 12), 16, 10)
      .cast("long")
    df.filter(col(weightCol).cast("long") >= 1)
      .withColumn("__u", u)
      .withColumn("__pri",
        expr(s"__u DIV CAST(`$weightCol` AS BIGINT)"))
      .groupBy(col(strataCol))
      .agg(graft.plans.GraftCall(graft.plans.VectorExpressions.TopKName,
        struct((-col("__pri")).as("__s"), col(idCol).as("__tb"),
          col(idCol).as("__id")),
        lit(k)).as("__top"))
      .select(col(strataCol), explode(col("__top")).as("__e"))
      .select(col(strataCol), col("__e.__id").as(idCol))
  }

  /** Fixed-point scaling for FRACTIONAL weights feeding
    * [[sampleWeighted]] (whose guard rejects fractional columns
    * outright): round(w·1000) as a Long — milli-unit precision, the
    * deliberate, visible quantization that replaces the silent
    * truncating cast the guard exists to prevent. Weights below
    * 0.0005 round to 0 and are then NEVER SAMPLED (sampleWeighted
    * filters non-positive weights); callers whose weights live below
    * that floor should scale by a larger factor themselves rather
    * than let the floor silently zero their tail. Negative and null
    * weights pass through (→ filtered downstream as non-positive /
    * null-excluded) — this helper changes precision, not
    * eligibility. */
  def weightScaledMilli(w: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    round(w * lit(1000)).cast("long")

  /** Domain-mixture composer: deterministically subsample each stratum
    * so the surviving corpus approximates the target `weights` over a
    * total token budget — the re-weighting step that turns a raw crawl
    * (whatever proportions the web happened to have) into a designed
    * training mixture. Per-stratum keep rate:
    *
    *   rate_s = min(1.0, totalTokens · w_s / tokens_s)
    *
    * i.e. a stratum with more tokens than its budget share is thinned
    * to it; a stratum with fewer keeps everything (the mixture is then
    * best-effort for that stratum — no oversampling/duplication here,
    * epoch repetition is a trainer concern). Row selection reuses
    * [[sampleStratified]]'s md5-threshold contract, so the sample is
    * reproducible across reruns, partitionings, and corpus growth, and
    * the DuckDB oracle replays it exactly.
    *
    * Scale shape: one map-side-combined groupBy over the strata (the
    * ONLY shuffle, `|strata|` rows out), a driver-side rate table of
    * `|strata|` entries (domains are thousands at 100 TB, never
    * corpus-sized), then a pure narrow filter over the corpus scan.
    * Strata absent from `weights` get rate 0 (dropped): a mixture is a
    * whitelist, silently passing unknown domains would corrupt it. */
  def mixDomains(df: DataFrame, strataCol: String, textCol: String,
      weights: Map[String, Double], totalTokens: Long,
      seedCols: Seq[String]): DataFrame = {
    val perStratum = df.groupBy(col(strataCol))
      .agg(sum(bpeTokenCount(col(textCol))).as("__toks"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = weights.map { case (s, w) =>
      val have = perStratum.getOrElse(s, 0L)
      s -> (if (have <= 0L) 0.0 else math.min(1.0, totalTokens * w / have))
    }
    sampleStratified(df, strataCol, rates, defaultRate = 0.0, seedCols)
  }

  /** Curriculum / quality bucketing: assign each document a bucket
    * 1..nBuckets by where its quality score falls among the exact
    * interpolated quantiles of its stratum — the pass that orders a
    * corpus for curriculum training or splits it into quality tiers
    * for per-tier sampling rates.
    *
    * Scale shape: the naive form is `ntile() OVER (PARTITION BY
    * stratum ORDER BY score)` — a full sort of every stratum with each
    * stratum on ONE task, the exact skew wall the other curation ops
    * avoid. Instead the quantile THRESHOLDS are computed per stratum
    * with Spark's exact `percentile` aggregate (map-side partials over
    * the 4-decimal-quantized score domain — at most 10⁴ distinct
    * values per task, O(distinct) not O(rows)), and bucket assignment
    * is a broadcast join of the |strata|-row threshold table plus a
    * narrow scan: no window, no stratum-wide sort, no skew exposure.
    * Thresholds are rounded to 6 decimals on both engines before the
    * strict `>` comparison: scores are 4-decimal quantized, so any
    * cross-engine ULP wobble in quantile interpolation rounds to the
    * same 6-decimal value and cannot flip a bucket. Ties at a
    * threshold fall to the lower bucket (deterministic). */
  def qualityBuckets(df: DataFrame, idCol: String, textCol: String,
      strataCol: String, nBuckets: Int = 10): DataFrame =
    scoreBuckets(df.select(col(idCol), col(strataCol),
      alphaRatio(col(textCol)).as("score")), idCol, "score",
      strataCol, nBuckets)

  /** [[qualityBuckets]] over a CALLER-PROVIDED score column — the
    * form a CCNet pipeline needs to tier documents by LM milli-bits
    * (head/middle/tail terciles per language) instead of the built-in
    * alpha-ratio heuristic. Same scale shape and cross-engine
    * discipline: exact percentile thresholds per stratum (never an
    * ntile window sorting a whole stratum on one task), thresholds
    * rounded to 6 decimals on both engines, ties fall to the lower
    * bucket. Bucket 1 holds the SMALLEST scores — for milli-bits that
    * is the most reference-like tier. */
  def scoreBuckets(df: DataFrame, idCol: String, scoreCol: String,
      strataCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val scored = df.select(col(idCol), col(strataCol), col(scoreCol))
    val qs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val thresholds = scored.groupBy(col(strataCol))
      .agg(transform(percentile(col(scoreCol), lit(qs)),
        t => round(t, 6)).as("__th"))
    scored.join(broadcast(thresholds), strataCol)
      .select(col(idCol), col(strataCol), col(scoreCol),
        aggregate(col("__th"), lit(1L),
          (acc, t) => acc + when(col(scoreCol) > t, 1L).otherwise(0L))
          .as("bucket"))
  }

  /** Contiguous sequence packing: within each (strataCol, shard)
    * stream ordered by `idCol`, documents fill token-budget bins in
    * order; a document's sequence id is the bin its first token lands
    * in (floor of the preceding cumulative token count / budget).
    * Returns (idCol, strataCol, shard, n_tok, seq_id).
    *
    * Scale shape: packing is inherently sequential, so the operator
    * makes the parallelism unit EXPLICIT — the id-hash shard. Each
    * (stratum, shard) packs independently: one window sort per shard,
    * `numShards` * strata parallel streams, no global order and no
    * single-task stratum even when one language dominates the corpus
    * (the exact skew that breaks a plain partitionBy(lang) window).
    * Packing quality loss vs global packing is bounded by one
    * partially-filled tail sequence per shard. Ids must be
    * non-negative (pmod here == the oracle's `%` only then) — a
    * negative id FAILS FAST at runtime ([[nonNegShard]]) instead of
    * silently diverging from the oracle contract. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      strataCol: String, budget: Int, numShards: Int): DataFrame = {
    val w = Window.partitionBy(col(strataCol), col("shard"))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), col(strataCol),
        nonNegShard(idCol, numShards).as("shard"),
        bpeTokenCount(col(textCol)).as("n_tok"))
      .withColumn("seq_id",
        floor((sum(col("n_tok")).over(w) - col("n_tok")) / budget))
  }

  /** id-hash shard with the non-negative-id contract enforced: shard
    * assignment uses pmod, whose result differs from the SQL `%` the
    * oracles (and any engine a user compares against) compute exactly
    * when the id is negative — so instead of a silent divergence on
    * user data, a negative id raises with the offending value. Pure
    * narrow codegen expression (when + raise_error), no extra pass. */
  private def nonNegShard(idCol: String, numShards: Int): Column =
    when(col(idCol) >= 0, pmod(col(idCol), lit(numShards)))
      .otherwise(raise_error(concat(
        lit(s"negative id in '$idCol' (got "), col(idCol).cast("string"),
        lit("): shard assignment requires non-negative ids — " +
          "remap or offset the id column first"))))

  /** Split over-budget documents into token-budget chunks — the
    * complement of [[packSequences]] (which bins short documents
    * together): a pretrain pipeline packs what fits and SPLITS what
    * doesn't. Emits one row per chunk: (idCol, n_tok, chunk_id,
    * tok_start, tok_end) with half-open token spans
    * [tok_start, tok_end) of width <= budget — the offsets a
    * downstream tokenizer consumes; chunk count = ceil(n_tok/budget).
    *
    * Scale shape: pure narrow projection + explode — no shuffle at
    * all, output rows ~ corpus token mass / budget. Chunk boundaries
    * depend only on the document itself, so the op is reproducible
    * under any partitioning and corpus growth. */
  def chunkSequences(df: DataFrame, idCol: String, textCol: String,
      budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    df.select(col(idCol), bpeTokenCount(col(textCol)).as("n_tok"))
      // zero-token documents produce zero chunks. Guarded explicitly:
      // Spark's sequence(0, -1) would DESCEND ([0, -1]) and emit two
      // bogus chunks instead of none
      .filter(col("n_tok") > 0)
      .select(col(idCol), col("n_tok"),
        explode(sequence(lit(0L),
          floor((col("n_tok") - 1) / budget))).as("chunk_id"))
      .select(col(idCol), col("n_tok"), col("chunk_id"),
        (col("chunk_id") * budget).as("tok_start"),
        least(col("n_tok"), (col("chunk_id") + 1) * budget)
          .as("tok_end"))
  }

  /** [[chunkSequences]] with OVERLAP — the RAG / long-context
    * chunking shape: windows of `budget` tokens starting every
    * `stride` tokens (stride < budget ⇒ consecutive chunks share
    * budget − stride tokens of context, so a span near a boundary is
    * fully contained in at least one chunk — the retrieval property
    * non-overlapping chunking loses). Emits one row per chunk:
    * (idCol, n_tok, chunk_id, tok_start, tok_end) with half-open
    * spans [i·stride, min(n_tok, i·stride + budget)) and chunk count
    * 1 + ⌈max(0, n_tok − budget) / stride⌉ — one chunk for any
    * document that fits the budget, and the last window always
    * reaches the document's end. Pure narrow explode, no shuffle;
    * output volume is the deliberate budget/stride redundancy
    * factor.
    *
    * BOUNDARY SEMANTICS DIVERGE from [[chunkSequences]] even at
    * stride < budget: the trailing window here is a FULL-budget
    * window pulled back to end at the document's last token
    * (tok_end = n_tok, tok_start = chunk_id·stride, width ≤ budget
    * only via the clamp), whereas [[chunkSequences]] tiles exhaustive
    * half-open spans and so ends with a SHORT tail chunk
    * [⌊(n−1)/budget⌋·budget, n). A 100 TB consumer switching chunkers
    * must not assume the last chunk's width or start offset carries
    * over. */
  def chunkSequencesOverlap(df: DataFrame, idCol: String,
      textCol: String, budget: Int, stride: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(stride > 0 && stride <= budget,
      s"stride must be in [1, budget], got $stride")
    df.select(col(idCol), bpeTokenCount(col(textCol)).as("n_tok"))
      .filter(col("n_tok") > 0)
      // last chunk id via INTEGER ceil division — a double divide
      // would wobble at large counts
      .select(col(idCol), col("n_tok"),
        explode(sequence(lit(0L), expr(
          s"(greatest(n_tok - $budget, 0L) + ${stride - 1}L) " +
            s"DIV ${stride}L"))).as("chunk_id"))
      .select(col(idCol), col("n_tok"), col("chunk_id"),
        (col("chunk_id") * stride).as("tok_start"),
        least(col("n_tok"), col("chunk_id") * stride + budget)
          .as("tok_end"))
  }

  /** Deterministic training-order assignment — the "global shuffle"
    * stage that decorrelates document order from crawl/source order
    * before training. Each row gets (shard, pos): shard = id mod
    * numShards, pos = the rank of its content hash within the shard.
    * A reader consuming shards round-robin by pos sees a uniform
    * content-hash-ordered permutation of the corpus; re-running the
    * pipeline (any partitioning, any retry) reproduces it bit-for-bit
    * — `rand()`-shuffles can't make that promise, and resumable
    * training requires it.
    *
    * Scale shape: one window sort PER SHARD (explicit id-hash shards,
    * the packSequences parallelism contract) — numShards parallel
    * sorts of |corpus|/numShards rows each, never a global sort or a
    * single-task stratum. Ids must be non-negative (pmod == the
    * oracle's `%` only then) — a negative id fails fast
    * ([[nonNegShard]]). */
  def trainOrder(df: DataFrame, idCol: String, seedCols: Seq[String],
      numShards: Int): DataFrame = {
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__h"), col(idCol))
    df.select(col(idCol), nonNegShard(idCol, numShards).as("shard"),
        md5(concat_ws(":",
          seedCols.map(c => col(c).cast("string")): _*)).as("__h"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__h")
  }

  /** Deterministic train/val/test split assignment: each row lands in
    * exactly one named split, chosen by where its md5(seedCols) 16-bit
    * prefix falls among the cumulative weight boundaries (quantized to
    * 1/65536). The [[sampleStratified]] determinism contract applied
    * to partitioning instead of thinning: a row's split depends only
    * on its content — stable across reruns, retries, partitionings,
    * AND corpus growth (adding documents never moves an existing one
    * across splits, the property that keeps eval sets frozen while
    * the corpus ingests). Splits are disjoint and total by
    * construction: boundaries chain and the last split takes the
    * remainder. Weights must sum to 1.
    *
    * Scale shape: pure narrow projection — no shuffle, no state, no
    * driver data. */
  def assignSplits(df: DataFrame, seedCols: Seq[String],
      splits: Seq[(String, Double)],
      splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "at least one split required")
    require(splits.forall(_._2 > 0), s"weights must be positive: $splits")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"split weights must sum to 1, got $total")
    val hash = substring(
      md5(concat_ws(":", seedCols.map(c => col(c).cast("string")): _*)),
      1, 4)
    val bounds = splits.map(_._2).scanLeft(0.0)(_ + _).tail.init
      .map(c => f"${(c * 65536).toInt}%04x")
    val assigned = bounds.zip(splits.map(_._1))
      .foldRight(lit(splits.last._1): Column) {
        case ((b, name), acc) => when(hash < lit(b), lit(name))
          .otherwise(acc)
      }
    df.withColumn(splitCol, assigned)
  }

  /** Survivor selection: given the full corpus and a duplicate-cluster
    * assignment (docId -> clusterId, canonical id = cluster minimum,
    * the Dedup.dupClusters contract), keep every document that is not
    * a non-canonical cluster member. This is the step that turns
    * near-dup DETECTION into an actually deduplicated corpus.
    *
    * Scale shape: the drop set (non-canonical members) is keyed by id
    * and anti-joined — a plain shuffle hash/SMJ anti join on the id,
    * correct at any duplicate rate (at 50% duplication the drop set
    * is half the corpus; never assume it broadcasts). */
  def survivors(docs: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame = {
    val drop = clusters
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Quality-preferring survivor selection: like [[survivors]], but the
    * member that survives each duplicate cluster is the one with the
    * LARGEST `scoreCol` value (ties broken by smallest id) instead of
    * the smallest id. Near-duplicates are rarely byte-identical — one
    * copy is the clean original and the others carry boilerplate or
    * truncation — so a curation pipeline wants to keep the best copy,
    * not an arbitrary canonical one. `docs` must carry `idCol` and
    * `scoreCol`; all non-clustered documents survive unchanged.
    *
    * Scale shape: cluster membership joins on the id (shuffle keyed by
    * id — never assumes the cluster set broadcasts; at 50% duplication
    * it is half the corpus), and the per-cluster argmax runs on the
    * BoundedTopK k=1 bounded-heap aggregate (map-side partials, one
    * row per cluster per task into the shuffle) — never a
    * row_number window that sorts whole clusters on one task. The
    * winner is deterministic because (score, -id) is unique per row. */
  def survivorsBest(docs: DataFrame, idCol: String, scoreCol: String,
      clusters: DataFrame): DataFrame = {
    val membership = clusters.select(col("doc_id").as(idCol),
      col("cluster_id"))
    val clustered = docs.join(membership, Seq(idCol))
    val winners = Latest.latestBy(clustered, Seq("cluster_id"),
        ordCols = Seq(col(scoreCol), negate(col(idCol))),
        valueCols = Seq(idCol))
      .select(col(idCol))
    val unclustered = docs.join(membership.select(col(idCol)),
      Seq(idCol), "left_anti")
    unclustered.unionByName(docs.join(winners, Seq(idCol)))
  }
}
