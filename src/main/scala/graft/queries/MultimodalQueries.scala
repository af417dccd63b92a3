package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import QHelp._

/** Multimodal (binary-payload) plumbing queries. The IMAGE queries run
  * a REAL codec — actual PNG bytes encoded and decoded with the JDK's
  * `javax.imageio` — gated by an oracle that predicts what a correct
  * decode must return (dims + full pixel checksum; payload geometry
  * and pixels derive deterministically from the document, see
  * Multimodal.PngCodec). The frame-sampling query keeps the
  * deterministic VIDEO stub (no video codec ships with the JDK).
  */
object MultimodalQueries extends QueryPack {

  // Codec-stage parallelism (round-19, guide §2.6): every multimodal
  // op is a per-row codec `mapPartitions`, so its task count is the
  // SOURCE's partition count — ONE split at gate scale and at sf10
  // (58 MB < maxPartitionBytes). QHelp.widenScan (in scope via the
  // wildcard import) exchanges only the narrow PRE-encode doc rows —
  // payloads are generated wide and never shuffled (the §8 rule) —
  // and is a no-op once the scan itself is wide (the 100 TB regime).
  // The private duplicate that used to live here shadowed QHelp's
  // verbatim copy; folded onto QHelp.widenScan in round 20.

  override def queries: Map[String, Q] = Map(

    // real PNG decode: javax.imageio parses bytes it has never seen
    // as formulas — width/height come from the parsed header and
    // pix_sum covers every decoded pixel (PNG is lossless, so one
    // wrong pixel, swapped channel, or stride bug fails the hash)
    "q_multimodal_decode_meta" -> Q(
      (s, d) => {
        val assets = Multimodal.asImageAssets(widenScan(t(s, d, "documents")),
          "doc_id", "text")
        Multimodal.decodeImages(s, assets).toDF()
      },
      // text is ASCII (verified), so length == byte length
      Some("""WITH d AS (SELECT doc_id, length(text) AS n FROM documents),
             |g AS (
             |  SELECT doc_id, 8 + n % 24 AS w, 8 + (n * 7) % 24 AS h,
             |         n % 251 AS seed
             |  FROM d),
             |px AS (
             |  SELECT doc_id, w, h, seed, unnest(range(w * h)) AS i
             |  FROM g),
             |v AS (
             |  SELECT doc_id, w, h, seed, (i % w) AS x, (i // w) AS y
             |  FROM px)
             |SELECT doc_id AS asset_id, '89504e47' AS magic,
             |  w AS width, h AS height,
             |  CAST(sum(((x * 7 + y * 13 + seed) % 256)
             |     + 2 * ((x * 3 + y * 5 + seed * 11) % 256)
             |     + 3 * ((x + y + seed * 17) % 256)) AS BIGINT) AS pix_sum
             |FROM v GROUP BY 1, 2, 3, 4
             |""".stripMargin)),

    // real WAV decode: javax.sound.sampled parses actual RIFF/WAVE
    // clips — sample rate / channels / frame count come from the
    // parsed header and amp_sum covers every decoded 16-bit PCM
    // sample (lossless, so a byte-order slip or header misparse
    // fails the hash)
    "q_multimodal_audio_meta" -> Q(
      (s, d) => {
        val assets = Multimodal.asAudioAssets(widenScan(t(s, d, "documents")),
          "doc_id", "text")
        Multimodal.decodeAudio(s, assets).toDF()
      },
      Some("""WITH d AS (SELECT doc_id, length(text) AS n FROM documents),
             |p AS (
             |  SELECT doc_id, 64 + n % 256 AS len, n % 251 AS seed
             |  FROM d),
             |sm AS (
             |  SELECT doc_id, len, seed, unnest(range(len)) AS i
             |  FROM p)
             |SELECT doc_id AS asset_id, '52494646' AS magic,
             |  CAST(8000 AS BIGINT) AS sample_rate,
             |  CAST(1 AS BIGINT) AS channels,
             |  len AS n_samples,
             |  CAST(sum(abs((i * seed + 7) % 2003 - 1001)) AS BIGINT)
             |    AS amp_sum
             |FROM sm GROUP BY 1, 2, 3, 4, 5
             |""".stripMargin)),

    // VIDEO-shaped path: frame counts from the deterministic stub
    // codec (the JDK ships no video decoder); the fan-out plumbing is
    // the real thing
    "q_multimodal_frame_sample" -> Q(
      (s, d) => {
        val assets = Multimodal.asAssets(widenScan(t(s, d, "documents")),
          "doc_id", "text")
        val meta = Multimodal.decodeMeta(s, assets).toDF()
        Multimodal.sampleFrames(meta, every = 7)
      },
      Some("""WITH meta AS (
             |  SELECT doc_id AS asset_id,
             |    1 + octet_length(encode(text)) % 30 AS frames
             |  FROM documents)
             |SELECT asset_id, frames,
             |  unnest(range(0, frames, 7)) AS frame_idx
             |FROM meta
             |""".stripMargin)),

    // REAL resize: decode the PNG, Graphics2D downscale, re-encode,
    // re-decode — reported out dims come from produced bytes, and the
    // aspect-preserving integer target math is what the oracle replays
    "q_multimodal_resize" -> Q(
      (s, d) => {
        val assets = Multimodal.asImageAssets(widenScan(t(s, d, "documents")),
          "doc_id", "text")
        Multimodal.resizeImages(s, assets, maxDim = 16L).toDF()
      },
      Some("""WITH d AS (SELECT doc_id, length(text) AS n FROM documents),
             |m AS (
             |  SELECT doc_id, 8 + n % 24 AS w, 8 + (n * 7) % 24 AS h
             |  FROM d)
             |SELECT doc_id AS asset_id, w AS width, h AS height,
             |  CASE WHEN greatest(w, h) <= 16 THEN w
             |       ELSE greatest(1, w * 16 // greatest(w, h)) END AS out_w,
             |  CASE WHEN greatest(w, h) <= 16 THEN h
             |       ELSE greatest(1, h * 16 // greatest(w, h)) END AS out_h
             |FROM m
             |""".stripMargin)),

    // the COMPOSED multimodal curation pipeline (round-18 task #5 —
    // the text side has five composed rows, the embedding side one;
    // this is the multimodal lane's): (1) REAL PNG decode over the
    // asset table (metadata only — width/height/pix_sum from
    // javax.imageio), (2) resolution QUALITY GATE (min 16×16 — the
    // gate runs on decoded metadata BEFORE any expensive per-asset
    // work, the 100 TB discipline: dropped assets never pay the
    // resize), (3) REAL resize of the survivors (aspect-preserving
    // downscale to 16, out dims re-decoded from produced bytes),
    // (4) feature extraction over the survivors' content payload
    // (byte stats + rolling content hash), (5) curated-table LAYOUT
    // WRITE — asset_id-range-partitioned sized parquet (the
    // q_layout discipline), result read back from the store so the
    // gate covers the written state. Stage boundaries persisted
    // (q_pipeline_pretrain discipline: the decode meta feeds both
    // the gate and the final join). Scale shape: every stage is a
    // narrow per-partition codec pass or an equi join on asset_id;
    // nothing is corpus-quadratic; the only exchanges are the
    // semi-join on kept ids and the final range write.
    "q_pipeline_multimodal" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val assets = Multimodal.asImageAssets(widenScan(docs), "doc_id", "text")
        val meta = Multimodal.decodeImages(s, assets).toDF().persist()
        val kept = meta
          .filter(col("width") >= 16 && col("height") >= 16)
          .select("asset_id")
        val resized = Multimodal.resizeImages(s,
          assets.join(kept, Seq("asset_id")), maxDim = 16L).toDF()
        val feats = Multimodal.extractFeatures(s,
            Multimodal.asAssets(widenScan(docs), "doc_id", "text")
              .join(kept, Seq("asset_id"))).toDF()
          .select(col("asset_id"), col("n_bytes"), col("content_hash"))
        val curated = resized.join(feats, Seq("asset_id"))
          .select("asset_id", "width", "height", "out_w", "out_h",
            "n_bytes", "content_hash")
        val outDir = scratchDir("pmm", d) + "/curated"
        graft.sources.Sinks.writeSizedParquet(curated, outDir,
          sortCols = Seq("asset_id"),
          minFiles = s.sparkContext.defaultParallelism)
        s.read.parquet(outDir)
      },
      // text is ASCII (verified): length == byte length, per-char
      // codepoints == bytes — the decode-meta / resize / features
      // oracles composed over the gate's surviving ids
      Some("""WITH d AS (SELECT doc_id, length(text) AS n FROM documents),
             |g AS (
             |  SELECT doc_id, 8 + n % 24 AS w, 8 + (n * 7) % 24 AS h
             |  FROM d),
             |k AS (SELECT doc_id, w, h FROM g WHERE w >= 16 AND h >= 16),
             |rz AS (
             |  SELECT doc_id, w, h,
             |    CASE WHEN greatest(w, h) <= 16 THEN w
             |         ELSE greatest(1, w * 16 // greatest(w, h)) END AS out_w,
             |    CASE WHEN greatest(w, h) <= 16 THEN h
             |         ELSE greatest(1, h * 16 // greatest(w, h)) END AS out_h
             |  FROM k),
             |cs AS (
             |  SELECT doc_id,
             |    list_transform(string_split(text, ''), c -> ascii(c)) AS bs
             |  FROM documents
             |  WHERE doc_id IN (SELECT doc_id FROM k))
             |SELECT rz.doc_id AS asset_id, rz.w AS width, rz.h AS height,
             |  rz.out_w, rz.out_h,
             |  len(bs) AS n_bytes,
             |  list_reduce(list_prepend(7, bs),
             |              (a, b) -> (a * 31 + b) % 1048576) AS content_hash
             |FROM rz JOIN cs USING (doc_id)
             |""".stripMargin)),

    // feature extraction over raw payload bytes: byte stats, rolling
    // content hash (polyHash fold), 4-bin byte histogram — the
    // fixed-dim feature contract a real extractor would fill
    "q_multimodal_features" -> Q(
      (s, d) => {
        val assets = Multimodal.asAssets(widenScan(t(s, d, "documents")),
          "doc_id", "text")
        Multimodal.extractFeatures(s, assets).toDF()
      },
      // text is ASCII (verified), so per-character codepoints == bytes
      Some("""WITH cs AS (
             |  SELECT doc_id,
             |    list_transform(string_split(text, ''), c -> ascii(c)) AS bs
             |  FROM documents)
             |SELECT doc_id AS asset_id,
             |  len(bs) AS n_bytes,
             |  CASE WHEN len(bs) = 0 THEN 0
             |       ELSE CAST(list_sum(bs) AS BIGINT) // len(bs) END
             |    AS mean_byte,
             |  list_reduce(list_prepend(7, bs),
             |              (a, b) -> (a * 31 + b) % 1048576) AS content_hash,
             |  len(list_filter(bs, b -> b % 4 = 0)) AS h0,
             |  len(list_filter(bs, b -> b % 4 = 1)) AS h1,
             |  len(list_filter(bs, b -> b % 4 = 2)) AS h2,
             |  len(list_filter(bs, b -> b % 4 = 3)) AS h3
             |FROM cs
             |""".stripMargin))
  )
}
