package graft.queries

import graft.operators.Dedup
import QHelp._

/** Deduplication over the `documents` table: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash — each verified against a DuckDB oracle that
  * recomputes the same algorithm in SQL.
  */
object DedupQueries extends QueryPack {

  /** Shared DuckDB fragments: word array → distinct 3-gram shingles. */
  private val oShingles =
    """w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |      FROM documents),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(w)-1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      |  FROM w WHERE len(w) >= 3))""".stripMargin

  /** Verification tail as a CTE chain ending in `jp` (the verified
    * pairs) so callers can either select from it or build on it
    * (q_dedup_clusters recurses over it). */
  private val oJaccardTail =
    """sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |shared AS (
      |  SELECT id_a, id_b, count(*) AS shr
      |  FROM cand JOIN sh sa ON sa.doc_id = id_a
      |            JOIN sh sb ON sb.doc_id = id_b AND sb.shingle = sa.shingle
      |  GROUP BY id_a, id_b),
      |jp AS (
      |  SELECT id_a, id_b,
      |    round(shr / CAST(za.sz + zb.sz - shr AS DOUBLE), 4) AS jaccard
      |  FROM shared JOIN sizes za ON za.doc_id = id_a
      |              JOIN sizes zb ON zb.doc_id = id_b
      |  WHERE round(shr / CAST(za.sz + zb.sz - shr AS DOUBLE), 4) >= 0.5)""".stripMargin

  /** DuckDB: base polynomial shingle hash (mirrors TextFunctions
    * .polyHash(_, seed=7, bits=20)). */
  private val oShingleHash =
    """shh AS (SELECT doc_id, shingle,
      |  list_reduce(list_prepend(7, list_transform(string_split(shingle, ''),
      |                                             c -> ascii(c))),
      |              (a, b) -> (a * 31 + b) % 1048576) AS sh_h
      |  FROM sh)""".stripMargin

  /** DuckDB minhash column k: universal hash of the base shingle hash
    * (mirrors MinHashKernel's universal-hash family). */
  private def oMh(k: Int) =
    s"min((sh_h * ${2 * k + 1} + ${97 * k + 31}) % 1048576) AS mh_$k"

  /** Full MinHash+LSH CTE chain ending in `jp` (verified pairs), with
    * a caller-chosen candidate clause over the `bands` CTE — shared by
    * q_dedup_minhash_lsh, q_dedup_clusters, q_dedup_incremental, and
    * CurationQueries.q_dedup_survivors. */
  private[queries] def oMinhashCtesWith(candSql: String): String = {
    val bandSelects = (0 until 4).map { b =>
      val cols = (0 until 4).map(r => s"mh_${b * 4 + r}")
      s"SELECT doc_id, '$b' || '|' || ${cols.mkString(" || '|' || ")} AS band_key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""$oShingles,
       |$oShingleHash,
       |sig AS (SELECT doc_id, ${(0 until 16).map(oMh).mkString(", ")}
       |        FROM shh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  $candSql),
       |$oJaccardTail""".stripMargin
  }

  private[queries] val oMinhashCtes: String = oMinhashCtesWith(
    """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id""".stripMargin)

  /** Generated simhash oracle: 20-bit polynomial word hashes, per-bit
    * majority vote. Mirrors Dedup.simhash exactly (seed 7, mod 2^20). */
  private val oSimhash: String = {
    val bits = 20
    val bitTerms = (0 until bits).map { b =>
      s"""CASE WHEN list_sum(list_transform(hs,
         |  h -> CASE WHEN (h // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END)) > 0
         |THEN ${1L << b} ELSE 0 END""".stripMargin
    }.mkString(" +\n")
    s"""WITH hashed AS (
       |  SELECT doc_id,
       |    list_transform(string_split_regex(trim(text), '\\s+'),
       |      wd -> list_reduce(
       |        list_prepend(7, list_transform(string_split(wd, ''),
       |                        c -> ascii(c))),
       |        (a, b) -> (a * 31 + b) % ${1 << 20})) AS hs
       |  FROM documents)
       |SELECT doc_id, CAST($bitTerms AS BIGINT) AS simhash FROM hashed
       |""".stripMargin
  }

  override def queries: Map[String, Q] = Map(

    "q_dedup_exact" -> Q(
      (s, d) => Dedup.exact(t(s, d, "documents"), "doc_id", "text"),
      Some("""SELECT min(doc_id) AS doc_id, md5(text) AS digest,
             |       count(*) AS copies
             |FROM documents GROUP BY md5(text)
             |""".stripMargin)),

    // maxPostings ON in the benched configuration: sub-bucketing is
    // count-preserving (every pair still meets exactly once — see
    // Dedup.jaccardPairs), so the oracle is unchanged, and without it
    // one near-universal shingle lands its whole posting-list square
    // on a single join key at corpus scale.
    "q_dedup_jaccard" -> Q(
      (s, d) => Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5, maxPostings = 256),
      Some(s"""WITH $oShingles,
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM sh a JOIN sh b
              |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
              |$oJaccardTail
              |SELECT id_a, id_b, jaccard FROM jp
              |""".stripMargin)),

    // 16 hashes in 4-row bands: P(band collision) = sim^4, so random
    // pairs (sim≈0.05) almost never become candidates while true
    // near-dups (sim≥0.8) match with high probability — with a small
    // shingle vocabulary, wider bands are what keeps the candidate set
    // from going quadratic.
    "q_dedup_minhash_lsh" -> Q(
      (s, d) => Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
        n = 3, numHashes = 16, rowsPerBand = 4, threshold = 0.5),
      Some(s"""WITH $oMinhashCtes
              |SELECT id_a, id_b, jaccard FROM jp
              |""".stripMargin)),

    // duplicate clustering: connected components over the MinHash+LSH
    // pairs, canonical id = component minimum — the survivor
    // assignment a dedup job applies. Oracle: recursive reachability
    // closure over the same pairs (tiny graph, closure is exact).
    "q_dedup_clusters" -> Q(
      (s, d) => Dedup.dupClusters(
        Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, numHashes = 16, rowsPerBand = 4, threshold = 0.5)),
      Some(s"""WITH RECURSIVE $oMinhashCtes,
              |edges AS (
              |  SELECT id_a AS src, id_b AS dst FROM jp
              |  UNION
              |  SELECT id_b AS src, id_a AS dst FROM jp),
              |nodes AS (SELECT DISTINCT src AS id FROM edges),
              |reach(src, dst) AS (
              |  SELECT id, id FROM nodes
              |  UNION
              |  SELECT r.src, e.dst FROM reach r
              |  JOIN edges e ON r.dst = e.src)
              |SELECT src AS doc_id, min(dst) AS cluster_id
              |FROM reach GROUP BY src
              |""".stripMargin)),

    // incremental ingest dedup: docs with doc_id % 10 = 0 play the
    // arriving batch; pairs are new-vs-existing ONLY (the daily-ingest
    // shape that never re-dedups corpus x corpus).
    "q_dedup_incremental" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.minhashLshPairsAgainst(
          docs.filter(org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.lit(10)) === 0),
          docs.filter(org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.lit(10)) =!= 0),
          "doc_id", "text", n = 3, numHashes = 16, rowsPerBand = 4,
          threshold = 0.5)
      },
      Some(s"""WITH ${oMinhashCtesWith(
               """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 |  FROM bands a JOIN bands b ON a.band_key = b.band_key
                 |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0"""
                 .stripMargin)}
              |SELECT id_a, id_b, jaccard FROM jp
              |""".stripMargin)),

    // the near-dup index's WRITE path under streaming — the ingest
    // family (q_stream_bm25_ingest et al.) on the MinHash unit: seed
    // a third of the corpus batch-side (writeMinhashIndex), stream
    // the other two thirds in 3 micro-batches (each signed under the
    // STORED banding scheme and appended as tagged exactly-once
    // files), quiesced maintenance, then re-derive the FULL corpus
    // pair set from the stored signatures alone
    // (minhashLshPairsFromIndex — no re-shingle, no re-sign). Must
    // hash-match q_dedup_minhash_lsh's fresh-corpus oracle: streaming
    // the corpus into the index may not change a single pair.
    "q_stream_minhash_ingest" -> Q(
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val dir = scratchDir("minhash_ingest", d)
        // run-scoped index dir: ingest APPENDS (see q_stream_bm25_ingest)
        val run = s"$dir/run_${System.nanoTime()}"
        val idxDir = s"$run/idx"
        Dedup.writeMinhashIndex(Dedup.minhashIndex(
          docs.filter($"doc_id" % 3 === 0), "doc_id", "text",
          n = 3, numHashes = 16, rowsPerBand = 4), idxDir)
        val rest = docs.filter($"doc_id" % 3 =!= 0)
          .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
        implicit val sqlCtx = s.sqlContext
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val q = graft.streaming.StreamJobs.minhashIngestStream(
            input.toDS().toDF("doc_id", "text"), idxDir,
            "doc_id", "text", runId = "r0")
          .option("checkpointLocation", s"$run/ckpt").start()
        try {
          rest.grouped(math.max(1, rest.size / 3 + 1)).foreach { b =>
            input.addData(b); q.processAllAvailable()
          }
        } finally q.stop()
        graft.operators.Maintenance.compactAll(s, Seq(idxDir))
        Dedup.minhashLshPairsFromIndex(
          Dedup.readMinhashIndex(s, idxDir, "doc_id", "text",
            n = 3, numHashes = 16, rowsPerBand = 4),
          threshold = 0.5)
      },
      Some(s"""WITH $oMinhashCtes
              |SELECT id_a, id_b, jaccard FROM jp
              |""".stripMargin)),

    "q_dedup_simhash" -> Q(
      (s, d) => Dedup.simhash(t(s, d, "documents"), "doc_id", "text",
        bits = 20),
      Some(oSimhash)),

    // substring-level dedup: pairs sharing >= 2 distinct exact word
    // 6-gram spans — catches verbatim-overlap pairs whose overall
    // Jaccard may be low. k=6 makes random collisions vanish in this
    // corpus (every surviving pair is a seeded near-dup), minShared=2
    // guards the residual single-collision noise at larger SFs.
    // maxPostings ON for the same reason as q_dedup_jaccard: shared-
    // span counting has no prefix filter (every gram match must be
    // counted), so a near-universal gram would otherwise put its whole
    // posting square on one reduce key; sub-bucketing spreads it and
    // preserves counts (every pair still meets exactly once per gram).
    "q_dedup_spans" -> Q(
      (s, d) => Dedup.sharedSpanPairs(widenScan(t(s, d, "documents")), "doc_id",
        "text", k = 6, minShared = 2L, maxPostings = 256),
      Some("""WITH w AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
             |  FROM documents),
             |g AS (
             |  SELECT DISTINCT doc_id, gram FROM (
             |    SELECT doc_id,
             |      unnest(list_transform(range(1, len(w) - 4),
             |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
             |             w[i+3] || ' ' || w[i+4] || ' ' || w[i+5]))
             |        AS gram
             |    FROM w WHERE len(w) >= 6)),
             |p AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |         count(*) AS shared_spans
             |  FROM g a JOIN g b
             |    ON a.gram = b.gram AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b, shared_spans FROM p
             |WHERE shared_spans >= 2
             |""".stripMargin)),

    // doc-level duplicated-span fraction (Lee et al., ACL 2022):
    // the fraction of each document's 4-gram window positions whose
    // gram appears in >= 2 distinct documents — the threshold signal
    // that drops near-template docs WITHOUT materializing the
    // quadratic pair set q_dedup_spans/q_dedup_jaccard carry. Linear
    // in corpus tokens: one gram explode + one distinct-doc count +
    // one gram-keyed join back (probe-side skew only, AQE-covered).
    "q_dedup_span_fraction" -> Q(
      (s, d) => Dedup.dupSpanFraction(widenScan(t(s, d, "documents")), "doc_id",
        "text", k = 4),
      Some("""WITH w AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS wl
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |    CAST('0x' || substr(md5(
             |      unnest(list_transform(range(1, len(wl) - 2),
             |        i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2] || ' '
             |          || wl[i+3]))), 1, 15) AS BIGINT) AS gram
             |  FROM w WHERE len(wl) >= 4),
             |dfq AS (SELECT gram, count(DISTINCT doc_id) AS nd
             |        FROM g GROUP BY 1)
             |SELECT doc_id, count(*) AS n_windows,
             |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_shared,
             |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |    * 10000 // count(*) AS shared_bp
             |FROM g JOIN dfq USING (gram)
             |GROUP BY doc_id
             |""".stripMargin))
  )
}
