package graft

import org.apache.spark.sql.functions._

import graft.sources.{Sinks, Tables}

/** Stored-probe scan parallelism AND small-file hygiene for the
  * persistence units' sized writes — both regimes of
  * `Sinks.writeSizedParquet`'s size-proportional `minFiles` floor
  * (round 19; guide §6).
  *
  * Big regime (the round-12 forensics: a ONE-file 500k-doc BM25
  * posting table serialized every stored probe onto a single task,
  * 914 s vs 147 s fresh): once the table's size estimate clears
  * minFiles × FloorBytesPerFile, the FULL parallelism floor applies —
  * a writer regressing to a plain coalesced write fails here.
  *
  * Small regime (the round-19 optimization: `parallelism` near-empty
  * files per tiny store cost every later read a per-file open/list
  * with zero parallelism gained): a table far below the floor budget
  * lands in few files — a writer regressing to an unconditional
  * parallelism shatter fails here. */
class PersistenceFilesSpec extends SparkSpec {

  private def parts(dir: String, table: String): Int = {
    val d = new java.io.File(s"$dir/$table")
    assert(d.isDirectory, s"$d missing")
    d.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
  }

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-pfiles-$name")
      .toString + "/store"

  test("writeSizedParquet floor: full parallelism for big tables, few files for tiny ones") {
    val s = spark
    import s.implicits._
    val minFiles = 8
    // big regime: estimated bytes >> minFiles × FloorBytesPerFile
    // (range+project stats: ~1M rows × ~90 B ≈ 90 MB vs 8 × 2 MB)
    val big = s.range(0, 1000000L, 1, 4)
      .select($"id", md5($"id".cast("string")).as("a"),
        md5(($"id" + 1).cast("string")).as("b"))
    assert(Sinks.estimatedBytes(big) >=
      BigInt(minFiles) * Sinks.FloorBytesPerFile, "test premise: big")
    val bigDir = tmp("big")
    val nBig = Sinks.writeSizedParquet(big, s"$bigDir/t.parquet",
      sortCols = Seq("id"), minFiles = minFiles)
    assert(nBig >= minFiles,
      s"big table must keep the full parallelism floor, got $nBig")

    // small regime: a few hundred rows, far below one floor budget
    val small = s.range(0, 500L, 1, 4)
      .select($"id", md5($"id".cast("string")).as("a"))
    assert(Sinks.estimatedBytes(small) < Sinks.FloorBytesPerFile,
      "test premise: small")
    val smallDir = tmp("small")
    val nSmall = Sinks.writeSizedParquet(small, s"$smallDir/t.parquet",
      sortCols = Seq("id"), minFiles = minFiles)
    assert(nSmall <= 2,
      s"tiny table must not shatter to the parallelism floor, got $nSmall")
  }

  test("BM25 postings (the 914 s unit) keep >= scan-parallelism files once big enough") {
    val s = spark
    import s.implicits._
    val p = s.sparkContext.defaultParallelism
    assert(p > 1, "test session must be multi-core for this to bite")
    // synthetic corpus big enough that the posting table's estimate
    // clears p × FloorBytesPerFile — the round-12 regime, scaled to
    // test runtime (the real case was 500k docs / hundreds of MB)
    val docs = s.range(0, 60000L, 1, 4)
      .select($"id".as("doc_id"),
        concat_ws(" ", md5($"id".cast("string")),
          md5(($"id" + 1).cast("string")),
          md5(($"id" + 2).cast("string")),
          md5(($"id" + 3).cast("string")),
          md5(($"id" + 4).cast("string")),
          md5(($"id" + 5).cast("string"))).as("text"))
    val bmDir = tmp("bm25")
    graft.operators.TextProfile.bm25Index(docs, "doc_id", "text")
      .write(bmDir)
    assert(parts(bmDir, "postings.parquet") >= p,
      "bm25 postings lost the big-table parallelism floor")
  }

  test("IVF assigned + IVF-PQ codes (the serve-scan units) keep >= scan-parallelism files once big enough") {
    // round-20 ADVICE: the big-regime floor was pinned per-writer only
    // for BM25 — a unit writer dropping its minFiles argument (a plain
    // write regression) must fail HERE for the ANN serve units too.
    // Synthetic corpus sized so the assigned/codes estimate clears
    // p × FloorBytesPerFile; nlist >= p because the cell-range-sorted
    // layout (round 20) writes at most one file per non-empty cell
    // range.
    val s = spark
    import s.implicits._
    val p = s.sparkContext.defaultParallelism
    assert(p > 1, "test session must be multi-core for this to bite")
    val vecs = s.range(0, 200000L, 1, 4)
      .select($"id".as("vec_id"),
        transform(sequence(lit(0), lit(15)),
          j => (pmod($"id" * 31 + j * 7, lit(997)).cast("float") /
            lit(997.0f)) + lit(0.001f)).as("embedding"))
    assert(Sinks.estimatedBytes(vecs) >=
      BigInt(p) * Sinks.FloorBytesPerFile, "test premise: big vecs")
    val ivfDir = tmp("ivfbig")
    graft.operators.Similarity.ivfIndex(vecs, "vec_id", "embedding",
      nlist = 32).write(ivfDir)
    assert(parts(ivfDir, "assigned.parquet") >= p,
      "ivf assigned lost the big-table parallelism floor")

    val ivfpqDir = tmp("ivfpqbig")
    val idx = graft.operators.Similarity.ivfPqIndex(vecs, "vec_id",
      "embedding", dim = 16, nlist = 32)
    idx.write(ivfpqDir)
    idx.release()
    assert(parts(ivfpqDir, "codes.parquet") >= p,
      "ivfpq codes lost the big-table parallelism floor")
  }

  test("minhash signed (the near-dup serve unit) keeps >= scan-parallelism files once big enough") {
    val s = spark
    import s.implicits._
    val p = s.sparkContext.defaultParallelism
    val docs = s.range(0, 60000L, 1, 4)
      .select($"id".as("doc_id"),
        concat_ws(" ", md5($"id".cast("string")),
          md5(($"id" + 1).cast("string")),
          md5(($"id" + 2).cast("string")),
          md5(($"id" + 3).cast("string")),
          md5(($"id" + 4).cast("string")),
          md5(($"id" + 5).cast("string"))).as("text"))
    val mhDir = tmp("minhashbig")
    graft.operators.Dedup.writeMinhashIndex(
      graft.operators.Dedup.minhashIndex(docs, "doc_id", "text",
        n = 3, numHashes = 16, rowsPerBand = 4), mhDir)
    assert(parts(mhDir, "signed.parquet") >= p,
      "minhash signed lost the big-table parallelism floor")
  }

  test("every sized-table store kind writes gate-scale stores in FEW files (small-file hygiene)") {
    import graft.operators._
    val s = spark
    val docs = Tables.load(s, sf0001, "documents")
    val emb = Tables.load(s, sf0001, "embeddings")
    // each store writer with the tables it writes through
    // Sinks.writeSizedParquet (its other tables are driver-small)
    val stores: Seq[(String => Unit, Seq[String])] = Seq(
      (d => Dedup.writeMinhashIndex(Dedup.minhashIndex(docs, "doc_id",
        "text", n = 5, numHashes = 16, rowsPerBand = 4), d),
        Seq("signed.parquet")),
      (d => Similarity.ivfIndex(emb, "vec_id", "embedding", nlist = 16)
        .write(d), Seq("assigned.parquet")),
      (d => Similarity.pqIndex(emb, "vec_id", "embedding", dim = 64)
        .write(d), Seq("codes.parquet")),
      (d => {
        val i = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
          dim = 64, nlist = 16)
        try i.write(d) finally i.release()
      }, Seq("codes.parquet")),
      (d => CorpusProfile.write(
        CorpusProfile.build(docs, "doc_id", "lang", "text"), d),
        Seq("tokens.parquet")),
      (d => TextProfile.bm25Index(docs, "doc_id", "text").write(d),
        Seq("postings.parquet")),
      (d => LmScore.writeModel(docs, "text", d),
        Seq("bigrams.parquet", "firsts.parquet", "unigrams.parquet")),
      (d => Classify.writeNbModel(docs, "lang", "text", d),
        Seq("counts.parquet", "classes.parquet", "vocabulary.parquet")),
      (d => Curation.writeDeconSet(docs, "doc_id", "text", n = 4, d),
        Seq("grams.parquet")),
      (d => Similarity.writeSemanticDeconSet(emb, "embedding", d,
        dim = 64, planes = 3), Seq("bench.parquet")),
      (d => Similarity.writeSemanticDeconSetBanded(emb, "embedding", d,
        dim = 64, bands = 4, rowsPerBand = 4), Seq("bench.parquet")))
    val kinds = stores.zipWithIndex.map { case ((write, tables), i) =>
      val dir = tmp(s"kind$i")
      write(dir)
      val kind = storeRecord(dir).kind
      tables.foreach(t => assert(parts(dir, t) <= 4, s"$kind $t"))
      kind
    }
    // every store kind but the bench bloom, which is one binary file
    assert(kinds.toSet == Set(Dedup.MinhashKind, Similarity.IvfKind,
      Similarity.PqKind, Similarity.IvfPqKind, CorpusProfile.Kind,
      TextProfile.Bm25Kind, LmScore.Kind, Classify.NbKind,
      Curation.DeconSetKind, Similarity.SemanticDeconKind,
      Similarity.BandedDeconKind))
  }
}
