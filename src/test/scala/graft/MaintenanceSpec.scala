package graft

import org.apache.spark.sql.functions._

import graft.operators.{CorpusProfile, Maintenance, Similarity, TextProfile}
import graft.sources.Tables

/** The single maintenance entry point over append-drifted stores:
  * unit detection from directory contents, drift detection (partials
  * / small-file growth), dispatch to the right restoring pass, and —
  * the property that matters — probe results bit-identical across
  * the compaction. */
class MaintenanceSpec extends SparkSpec {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-maint-$name")
      .toString + "/store"

  private def files(dir: String): Int =
    new java.io.File(dir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))

  test("append-drifted BM25 store: detected, term-sorted re-pack, probe identical") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(s, sf0001, "documents")
    val dir = tmp("bm25")
    TextProfile.bm25Index(docs.filter($"doc_id" % 2 === 0), "doc_id",
      "text").write(dir)
    val stored = TextProfile.readBm25Index(s, dir, "doc_id")
    TextProfile.bm25IndexAppend(stored,
      docs.filter($"doc_id" % 2 === 1), "text", dir)
    assert(TextProfile.bm25HasPartials(s, dir), "append left no partials?")

    val queries = docs.filter($"doc_id" % 100 === 0)
      .select($"doc_id".as("q_id"),
        concat_ws(" ", slice(graft.functions.TextFunctions
          .tokens($"text"), 1, 6)).as("qtext"))
    def probe() = TextProfile.bm25TopKWithIndex(queries, "q_id",
      "qtext", TextProfile.readBm25Index(s, dir, "doc_id"), k = 5,
      stopwordCut = false).collect().toSet
    val before = probe()

    val rep = Maintenance.compactAll(s, Seq(dir))(dir)
    assert(rep.kind == "bm25-index", rep.kind)
    assert(rep.compacted, rep.toString)
    assert(!TextProfile.bm25HasPartials(s, dir), "partials survived")
    assert(probe() == before, "probe changed across compaction")

    // idle store: a second pass detects nothing to do
    val rep2 = Maintenance.compactAll(s, Seq(dir))(dir)
    assert(!rep2.compacted, rep2.toString)

    // vocab-DISJOINT append: df stays one row per term (no partials)
    // yet the posting term-sort is broken — only the record's sorted
    // flag sees it; a partials-only gate would report the store idle
    // while file pruning stays degraded indefinitely
    val disjoint = Seq((900001L, "zzqxa zzqxb zzqxc"),
      (900002L, "zzqxd zzqxe")).toDF("doc_id", "text")
    TextProfile.bm25IndexAppend(
      TextProfile.readBm25Index(s, dir, "doc_id"), disjoint, "text",
      dir)
    assert(!TextProfile.bm25HasPartials(s, dir),
      "disjoint append should leave no df partials")
    assert(!storeRecord(dir).tables("postings.parquet").sorted,
      "record failed to flag the unsorted append")
    val rep3 = Maintenance.compactAll(s, Seq(dir))(dir)
    assert(rep3.compacted, rep3.toString)
    assert(storeRecord(dir).compacted, "compact did not re-sort")
  }

  test("append-drifted corpus profile: partials collapsed, stats identical") {
    val s = spark
    val docs = Tables.load(s, sf0001, "documents")
    val dir = tmp("profile")
    CorpusProfile.write(CorpusProfile.build(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "lang", "text"),
      dir)
    CorpusProfile.append(CorpusProfile.build(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "lang", "text"),
      dir)
    assert(CorpusProfile.hasPartials(s, dir))
    def stats() = CorpusProfile.stats(
      CorpusProfile.read(s, dir, "lang", "text")).collect().toSet
    val before = stats()
    val rep = Maintenance.compactAll(s, Seq(dir))(dir)
    assert(rep.kind == "corpus-profile" && rep.compacted, rep.toString)
    assert(!CorpusProfile.hasPartials(s, dir))
    assert(stats() == before)
  }

  test("compactAll threads targetFileBytes into the BM25 re-pack") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(s, sf0001, "documents")
    val dir = tmp("bm25target")
    TextProfile.bm25Index(docs.filter($"doc_id" % 2 === 0), "doc_id",
      "text").write(dir)
    TextProfile.bm25IndexAppend(
      TextProfile.readBm25Index(s, dir, "doc_id"),
      docs.filter($"doc_id" % 2 === 1), "text", dir)
    val bytes = new java.io.File(s"$dir/postings.parquet").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.length).sum
    val p = s.sparkContext.defaultParallelism
    // a target small enough that the size-derived count (~3p) clears
    // the minFiles parallelism floor: before the threading fix the
    // re-pack used writeSizedParquet's built-in 128 MB default and
    // landed exactly p files regardless of this parameter
    Maintenance.compactAll(s, Seq(dir),
      targetFileBytes = math.max(1L, bytes / (3L * p)))
    assert(!TextProfile.bm25HasPartials(s, dir), "re-pack did not run")
    assert(files(s"$dir/postings.parquet") > p,
      s"targetFileBytes ignored: ${files(s"$dir/postings.parquet")} " +
        s"files at floor $p")
  }

  test("append-grown IVF store: bin-packed back to scan parallelism, probe identical") {
    val s = spark
    import s.implicits._
    val emb = Tables.load(s, sf001, "embeddings")
    val dir = tmp("ivf")
    Similarity.ivfIndex(emb.filter($"vec_id" % 12 === 0), "vec_id",
      "embedding", nlist = 16).write(dir)
    var idx = Similarity.readIvfIndex(s, dir, "vec_id", "embedding")
    (1 to 11).foreach { r =>
      idx = Similarity.ivfAppendToStored(idx,
        emb.filter($"vec_id" % 12 === r), dir)
    }
    val p = s.sparkContext.defaultParallelism
    val grown = files(s"$dir/assigned.parquet")
    assert(grown > 2 * p, s"appends grew only to $grown files")

    def probe() = Similarity.ivfTopKWithIndex(
      emb.filter($"vec_id" % 100 === 0),
      Similarity.readIvfIndex(s, dir, "vec_id", "embedding"),
      k = 5, nprobe = 4).collect().toSet
    val before = probe()
    val rep = Maintenance.compactAll(s, Seq(dir))(dir)
    assert(rep.kind == "ivf-index" && rep.compacted, rep.toString)
    val after = files(s"$dir/assigned.parquet")
    // shrank, but never below scan parallelism (the 914-vs-147 s
    // single-file-serialization guard this round extends to compact)
    assert(after <= grown / 2 && after >= math.min(p, grown),
      s"$grown -> $after")
    assert(probe() == before, "probe changed across compaction")
  }

  test("IVF and IVF-PQ compaction re-sorts the declared cell column: disjoint per-file cell ranges, a 1-probe scan skips the other cells' rows") {
    val s = spark
    import s.implicits._
    val emb = Tables.load(s, sf001, "embeddings")
    val ivf = tmp("ivfsort")
    val pq = tmp("ivfpqsort")
    Similarity.ivfIndex(emb.filter($"vec_id" % 4 === 0), "vec_id",
      "embedding", nlist = 16).write(ivf)
    val built = Similarity.ivfPqIndex(emb.filter($"vec_id" % 4 === 0),
      "vec_id", "embedding", dim = 64, nlist = 16)
    built.write(pq)
    built.release()
    (1 to 3).foreach { r =>
      val b = emb.filter($"vec_id" % 4 === r).select("vec_id", "embedding")
      Similarity.ivfIngestBatch(b, ivf, "vec_id", "embedding", s"r$r")
      Similarity.ivfPqIngestBatch(b, pq, "vec_id", "embedding", s"r$r")
    }
    val helper =
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    Seq((ivf, "assigned.parquet"), (pq, "codes.parquet")).foreach {
      case (dir, table) =>
        val bytes = new java.io.File(s"$dir/$table").listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.length).sum
        // a small target so the re-pack spreads over several files
        val rep = Maintenance.compactAll(s, Seq(dir),
          targetFileBytes = math.max(1L, bytes / 6))(dir)
        assert(rep.compacted, rep.toString)
        assert(storeRecord(dir).tables(table).sorted)
        val ranges = s.read.parquet(s"$dir/$table")
          .groupBy(input_file_name())
          .agg(min("cell"), max("cell")).collect()
          .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
        assert(ranges.size >= 2, s"$table: one file, nothing to prune")
        ranges.sliding(2).foreach { case Seq(a, b) =>
          assert(a._2 < b._1, s"$table: overlapping cell ranges $ranges")
        }
        val rows = s.read.parquet(s"$dir/$table").count()
        // a driver-local probe frame: the input whose probed cells
        // are free to read, so the operator pushes In(cell)
        val q = s.createDataFrame(java.util.Arrays.asList(
          emb.filter($"vec_id" === 7L).collect(): _*), emb.schema)
        val probe =
          if (table == "assigned.parquet")
            Similarity.ivfTopKWithIndex(q,
              Similarity.readIvfIndex(s, dir, "vec_id", "embedding"),
              k = 5, nprobe = 1)
          else Similarity.ivfPqTopKWithIndex(q,
            Similarity.readIvfPqIndex(s, dir, "vec_id", "embedding"),
            k = 5, nprobe = 1)
        probe.collect()
        // Spark's parquet source lists every file of the scan (its
        // numFiles metric is the table's file count); the pruning is
        // the pushed In(cell) skipping every row group outside the
        // probed cell, so the scan emits only that cell's file rows
        val scanned = helper.collectWithSubqueries(
            probe.queryExecution.executedPlan) {
          case p: org.apache.spark.sql.execution.FileSourceScanExec
              if p.relation.location.rootPaths
                .exists(_.toString.contains(table)) =>
            p.metrics("numOutputRows").value
        }
        assert(scanned.nonEmpty && scanned.forall(_ < rows),
          s"$table: 1-probe scan read $scanned of $rows rows")
    }
  }

  test("append-drifted decon set: detected, re-distinct + re-sort + restamp, probe identical") {
    val s = spark
    val docs = Tables.load(s, sf0001, "documents")
    val bench = docs.filter(col("source") === "src0")
    val corpus = docs.filter(col("source") =!= "src0")
    val dir = tmp("decon")
    graft.operators.Curation.writeDeconSet(bench, "doc_id", "text",
      n = 4, dir)
    // append the SAME benchmark: pure duplicates — the probe must not
    // move, but layout drift must be detected and compacted away
    graft.operators.Curation.deconSetAppend(bench, "doc_id", "text", dir)
    assert(!storeRecord(dir).compacted)
    def probe() = graft.operators.Curation.decontaminateWithSet(corpus,
        graft.operators.Curation.readDeconSet(s, dir)._1,
        "doc_id", "text", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe()
    val grown = files(s"$dir/grams.parquet")
    val rep = Maintenance.compactAll(s, Seq(dir))(dir)
    assert(rep.kind == "decon-set", rep.kind)
    assert(storeRecord(dir).compacted, "compact did not re-sort")
    assert(files(s"$dir/grams.parquet") < grown,
      s"duplicates not collapsed: $grown -> ${files(s"$dir/grams.parquet")}")
    assert(probe() == before, "probe changed across compaction")
    // idle second pass: nothing to do
    val rep2 = Maintenance.compactAll(s, Seq(dir))(dir)
    assert(!rep2.compacted, rep2.toString)
  }

  test("append-drifted LM model: detected, partials collapsed, score identical") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(s, sf0001, "documents")
    val ref = docs.filter(col("lang") === "en")
    val dir = tmp("lm")
    graft.operators.LmScore.writeModel(
      ref.filter($"doc_id" % 2 === 0), "text", dir)
    graft.operators.LmScore.appendModel(
      ref.filter($"doc_id" % 2 === 1), "text", dir, tag = "odd")
    assert(graft.operators.LmScore.modelDrifted(s, dir))
    def probe() = graft.operators.LmScore.score(
        graft.operators.LmScore.readModel(s, dir),
        docs.filter($"doc_id" % 10 === 0), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val before = probe()
    val rep = Maintenance.compactAll(s, Seq(dir))(dir)
    assert(rep.kind == "lm-model", rep.kind)
    assert(!graft.operators.LmScore.modelDrifted(s, dir),
      "compact did not clear drift")
    assert(probe() == before, "score changed across compaction")
    val rep2 = Maintenance.compactAll(s, Seq(dir))(dir)
    assert(!rep2.compacted, rep2.toString)
  }

  test("generic layouts and unknown dirs: detected / rejected") {
    val s = spark
    import s.implicits._
    // flat: many tiny files -> bin-packed via the generic pass
    val flat = tmp("flat")
    (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(20).write.parquet(flat)
    val repF = Maintenance.compactAll(s, Seq(flat))(flat)
    assert(repF.kind == "generic-flat" && repF.compacted, repF.toString)

    // partitioned: each batch_id leaf compacts independently
    val part = tmp("part")
    (1L to 100L).map(i => (i, i % 2)).toDF("id", "batch_id")
      .repartition(10).write.partitionBy("batch_id").parquet(part)
    val repP = Maintenance.compactAll(s, Seq(part))(part)
    assert(repP.kind == "generic-partitioned", repP.toString)

    // neither a unit nor parquet: refuse loudly, never guess
    val junk = java.nio.file.Files
      .createTempDirectory("graft-maint-junk").toString
    intercept[IllegalArgumentException] {
      Maintenance.compactAll(s, Seq(junk))
    }
  }
}
