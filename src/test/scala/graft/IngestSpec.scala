package graft

import org.apache.spark.sql.functions._

import graft.operators.{Classify, CorpusProfile, Curation, Dedup, LmScore,
  Maintenance, Similarity, TextProfile}
import graft.sources.{Sinks, Tables}
import graft.store.Store
import graft.streaming.{ModelCache, StreamJobs}

/** The replay-idempotent streaming ingest contract
  * (`graft.store.Store.append` + `TextProfile.bm25IngestBatch` /
  * `Similarity.ivfIngestBatch`): a foreachBatch micro-batch re-run
  * with the same tag — from ANY crash point, however torn — must
  * converge the stored index to exactly the single-apply state, and
  * the ingested store must probe bit-identically to a fresh full
  * build. The gate rows (q_stream_bm25_ingest / q_stream_ann_ingest)
  * pin the happy path end-to-end against the DuckDB oracle; this
  * spec pins the failure-path algebra the gate cannot reach. */
class IngestSpec extends SparkSpec {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-ingest-$name")
      .toString + "/store"

  private def dataFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).sorted.toSeq

  private def fsOf(dir: String) =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** An empty store of test kind at `root`, and appends of `df` to
    * its one table under `tag`. */
  private def emptyStore(root: String): Unit =
    Store.write(spark, root, "test", Map.empty) { _ => () }
  private def appendT(root: String, df: org.apache.spark.sql.DataFrame,
      tag: String): Int =
    Store.append(spark, root, storeRecord(root), tag, Seq("table" -> df))

  test("appendTagged: committed replay no-ops, uncommitted replay replaces, neighbors survive, prefix tags do not collide") {
    val s = spark
    import s.implicits._
    val root = tmp("tagged")
    val dir = s"$root/table"
    emptyStore(root)
    appendT(root, Seq(1L, 2L).toDF("v"), "r0-0")
    val beforeR01 = recordJson(root)
    appendT(root, Seq(3L).toDF("v"), "r0-1")
    // r0-1 is a '-'-joined prefix of r0-1x and r0-1-b: neither may be
    // disturbed by an r0-1 replay
    appendT(root, Seq(4L).toDF("v"), "r0-1x")
    appendT(root, Seq(5L).toDF("v"), "r0-1-b")
    val fs = fsOf(dir)
    val before = dataFiles(dir)
    // a COMMITTED tag replays as a no-op: the record is the commit
    // point, so the batch's original content wins and the replay
    // returns 0 files
    assert(appendT(root, Seq(30L).toDF("v"), "r0-1") === 0)
    assert(Sinks.readTagged(s, dir).as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L, 4L, 5L))
    assert(dataFiles(dir) === before, "committed replay touched files")

    // an UNCOMMITTED attempt (crashed before its record commit) leaves
    // orphans that readers never see and a replay replaces: take the
    // record back to before r0-1 and re-append its later neighbors
    val r01files = before.filter(_.startsWith("ingest-r0-1-part"))
    uncommit(root, beforeR01, "r0-1")
    val orphan = new org.apache.hadoop.fs.Path(dir, r01files.head)
    appendT(root, Seq(4L).toDF("v"), "r0-1x")
    appendT(root, Seq(5L).toDF("v"), "r0-1-b")
    // the purge anchor is \d{5,}: Spark zero-pads to five digits but
    // counts past part-99999 at high task counts — a six-digit part
    // file must still purge
    val six = new org.apache.hadoop.fs.Path(dir,
      "ingest-r0-1-part-123456-deadbeef.snappy.parquet")
    fs.create(six, true).close()
    assert(Sinks.readTagged(s, dir).as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 4L, 5L), "orphans visible to readTagged")
    appendT(root, Seq(30L).toDF("v"), "r0-1")
    assert(Sinks.readTagged(s, dir).as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 4L, 5L, 30L), "uncommitted replay did not replace")
    assert(!fs.exists(orphan) && !fs.exists(six),
      "replay left the crashed attempt's orphan files")
    // other tags' files untouched through both replays
    assert(before.filter(_.startsWith("ingest-r0-0-")).toSet
      .subsetOf(dataFiles(dir).toSet))
  }

  test("manifest protocol property: readTagged ≡ union of committed batches, exactly once, under 100+ generated crash interleavings") {
    val s = spark
    import s.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed

    // Abstract op stream interpreted against BOTH the real store and
    // a trivially-correct model (the committed-batch map).
    // Crash(keep) lands a torn attempt: keep ∈ {0,1,2} data files
    // renamed in, record never committed — exactly the states a kill
    // between the append's rename loop and its commit produces.
    // Replay picks from live tags; Compact re-packs the store (applied
    // tags survive it, so a committed tag still replays as a no-op
    // afterwards, and a crashed one still redoes). The invariant at
    // every Read and at sequence end: the table holds every committed
    // batch EXACTLY once and nothing else.
    sealed trait Op
    case object Append extends Op
    final case class Crash(keep: Int) extends Op
    final case class Replay(pick: Int) extends Op
    case object Read extends Op
    case object Compact extends Op

    val opGen: Gen[Op] = Gen.frequency(
      4 -> Gen.const(Append),
      3 -> Gen.choose(0, 2).map(Crash(_)),
      3 -> Gen.choose(0, 99).map(Replay(_)),
      2 -> Gen.const(Read),
      1 -> Gen.const(Compact))
    val seqGen = Gen.listOfN(7, opGen)

    def valuesOf(tag: Int): Seq[Long] = (0 until 3).map(i => tag * 100L + i)

    var interleavings = 0
    (0 until 110).foreach { caseIdx =>
      val ops = seqGen(Gen.Parameters.default, Seed(4242L + caseIdx))
        .getOrElse(fail(s"case $caseIdx: generator produced nothing"))
      val root = tmp(s"prop$caseIdx")
      val dir = s"$root/table"
      emptyStore(root)
      var nextTag = 0
      val committed = scala.collection.mutable.LinkedHashMap.empty[Int, Seq[Long]]
      val crashed = scala.collection.mutable.LinkedHashMap.empty[Int, Seq[Long]]
      def expect: Seq[Long] = committed.values.flatten.toSeq.sorted
      def check(where: String): Unit =
        // a table with no committed file has no rows (and, when every
        // attempt crashed at keep=0, no schema to read)
        if (storeRecord(root).files("table").isEmpty)
          assert(expect.isEmpty,
            s"case $caseIdx ($where): model expects rows, store has none")
        else
          assert(Sinks.readTagged(s, dir).as[Long].collect().sorted.toSeq
            === expect, s"case $caseIdx ($where): store diverged from model")
      ops.foreach {
        case Append =>
          val tag = nextTag; nextTag += 1
          appendT(root, valuesOf(tag).toDF("v").coalesce(1), s"t$tag")
          committed(tag) = valuesOf(tag)
        case Crash(keep) =>
          val tag = nextTag; nextTag += 1
          val before = recordJson(root)
          appendT(root, valuesOf(tag).toDF("v").repartition(2), s"t$tag")
          uncommit(root, before, s"t$tag", keep)
          crashed(tag) = valuesOf(tag)
        case Replay(p) =>
          val pool = (crashed.keys ++ committed.keys).toVector.sorted
          if (pool.nonEmpty) {
            val tag = pool(p % pool.size)
            val ret = appendT(root, valuesOf(tag).toDF("v").coalesce(1),
              s"t$tag")
            if (committed.contains(tag))
              assert(ret === 0,
                s"case $caseIdx: committed replay of t$tag not a no-op")
            else { committed(tag) = valuesOf(tag); crashed.remove(tag) }
          }
        case Read => check("mid-sequence")
        case Compact =>
          if (storeRecord(root).files("table").nonEmpty)
            Store.compact(s, root, 128L << 20)
      }
      check("final")
      interleavings += 1
    }
    assert(interleavings >= 100)
  }

  test("readTagged on a store whose only files are uncommitted orphans returns zero rows, never the orphans") {
    val s = spark
    import s.implicits._
    val root = tmp("orphans")
    val dir = s"$root/table"
    emptyStore(root)
    // first-ever batch crashed before its record commit: the record
    // holds no file for the table, orphan files sit on disk
    val before = recordJson(root)
    appendT(root, Seq(1L, 2L, 3L).toDF("v"), "r0-0")
    uncommit(root, before, "r0-0")
    assert(dataFiles(dir).nonEmpty)
    assert(Sinks.readTagged(s, dir).count() === 0L,
      "uncommitted orphans leaked through readTagged")
    // the replay then commits them and they become visible
    appendT(root, Seq(1L, 2L, 3L).toDF("v"), "r0-0")
    assert(Sinks.readTagged(s, dir).as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L))
  }

  test("a serve loop concurrent with crash-replayed appends observes zero failed reads and only committed states") {
    val s = spark
    import s.implicits._
    val root = tmp("concurrent")
    val dir = s"$root/table"
    // base store + one committed batch, then FIVE stranded attempts:
    // files renamed in but the record commit "crashed" (put back) —
    // the only torn state the commit protocol can reach. Readers must
    // never see the stranded files, and the concurrent replays below
    // purge + redo them while the serve loop hammers the table.
    Store.write(s, root, "test", Map.empty) { st =>
      st.sized("table", (0L until 1000L).toDF("v"))
    }
    appendT(root, (1000L until 1100L).toDF("v"), "r0-0")
    val before = recordJson(root)
    val tags = (1 to 5).map(i => s"r0-$i")
    tags.zipWithIndex.foreach { case (tag, i) =>
      val lo = 1100L + i * 100L
      appendT(root, (lo until lo + 100L).toDF("v"), tag)
    }
    tags.foreach(t => uncommit(root, before, t))
    assert(Sinks.readTagged(s, dir).count() === 1100L,
      "stranded attempts visible before replay")

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val serve = new Thread(() => {
      while (!stop.get()) {
        try { seen.add(Sinks.readTagged(s, dir).count()); reads
          .incrementAndGet() }
        catch { case e: Throwable => failures.add(e) }
      }
    }, "graft-serve-loop")
    serve.start()
    try tags.zipWithIndex.foreach { case (tag, i) =>
      val lo = 1100L + i * 100L
      appendT(root, (lo until lo + 100L).toDF("v"), tag)
    } finally { stop.set(true); serve.join() }
    assert(failures.isEmpty,
      s"concurrent serve failed: ${failures.peek()}")
    // >= 1, not a throughput bar: under full-suite box load a read
    // can take seconds and a tighter count flakes — the property
    // under test is zero FAILED reads and only committed states, not
    // how many reads the loop managed
    assert(reads.get() >= 1, s"serve loop never completed a read")
    val legal = (0 to 5).map(i => 1100L + i * 100L).toSet
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.subsetOf(legal),
      s"serve observed a non-committed state: ${seen.asScala}")
    assert(Sinks.readTagged(s, dir).count() === 1600L)
  }

  test("bm25IngestBatch: replay of a clean batch and of every torn prefix converges to single-apply") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(s, sf0001, "documents")
    val dir = tmp("bm25")
    TextProfile.bm25Index(docs.filter($"doc_id" % 3 === 0), "doc_id",
      "text").write(dir)
    val b1 = docs.filter($"doc_id" % 3 === 1)
    val b2 = docs.filter($"doc_id" % 3 === 2)
    TextProfile.bm25IngestBatch(b1, "text", dir, "r0-0")
    // the record before r0-1: the state a crash anywhere inside
    // r0-1's append (before its one commit) leaves
    val mid = recordJson(dir)
    TextProfile.bm25IngestBatch(b2, "text", dir, "r0-1")
    val clean = recordJson(dir)
    val queries = docs.filter($"doc_id" % 100 === 0)
      .select($"doc_id".as("q_id"),
        concat_ws(" ", slice(graft.functions.TextFunctions
          .tokens($"text"), 1, 6)).as("qtext"))
    def probe() = TextProfile.bm25TopKWithIndex(queries, "q_id",
      "qtext", TextProfile.readBm25Index(s, dir, "doc_id"), k = 5,
      stopwordCut = false).orderBy("q_id", "rank").collect().toSeq
    val want = probe()
    // fresh-build parity: the ingested store IS the full corpus index
    val freshDir = tmp("bm25-fresh")
    TextProfile.bm25Index(docs, "doc_id", "text").write(freshDir)
    assert(want === TextProfile.bm25TopKWithIndex(queries, "q_id",
      "qtext", TextProfile.readBm25Index(s, freshDir, "doc_id"), k = 5,
      stopwordCut = false).orderBy("q_id", "rank").collect().toSeq)

    // clean replay: full batch re-run with the same tag — a no-op
    TextProfile.bm25IngestBatch(b2, "text", dir, "r0-1")
    assert(recordJson(dir) === clean)
    assert(probe() === want)

    // torn attempts of batch r0-1: every file renamed in but the
    // record never committed, then half of them; the replay must
    // purge the leftovers and commit exactly once
    Seq(Int.MaxValue, 1, 0).foreach { keep =>
      uncommit(dir, mid, "r0-1", keep)
      val stale = TextProfile.readBm25Index(s, dir, "doc_id")
      assert(stale.postings.filter($"doc_id" % 3 === 2).count() === 0L,
        s"uncommitted postings visible (keep=$keep)")
      TextProfile.bm25IngestBatch(b2, "text", dir, "r0-1")
      assert(probe() === want, s"repair after torn append failed (keep=$keep)")
      val r = storeRecord(dir)
      assert((r.long("docs"), r.long("tokens")) ===
        ((storeRecord(freshDir).long("docs"),
          storeRecord(freshDir).long("tokens"))))
    }

    // an ABANDONED attempt (crashed before its commit, never
    // replayed): quiesced compaction keeps only committed state, and
    // the applied tags survive it — a committed tag still replays as
    // a no-op afterwards, the abandoned one still redoes
    val beforeR02 = recordJson(dir)
    TextProfile.bm25IngestBatch(
      Seq((-1L, "zz abandoned")).toDF("doc_id", "text"), "text", dir,
      "r0-2")
    uncommit(dir, beforeR02, "r0-2")
    assert(!storeRecord(dir).tables("postings.parquet").sorted,
      "ingest left the postings sorted?")
    val rep = Maintenance.compactAll(s, Seq(dir))
    assert(rep(dir).kind === "bm25-index" && rep(dir).compacted)
    assert(probe() === want, "probe moved across compaction")
    val gen = storeRecord(dir).generation
    TextProfile.bm25IngestBatch(b2, "text", dir, "r0-1")
    assert(storeRecord(dir).generation === gen,
      "a committed tag re-applied after compaction")
    assert(storeRecord(dir).compacted)
  }

  test("ingest and serve streams compose on one store: a doc ingested in batch N is retrievable in the serve's batch N+1") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val docs = Tables.load(s, sf0001, "documents")
    val root = tmp("live")
    val idxDir = s"$root/idx"
    // seed WITHOUT the target doc; the serve must not find it yet
    val target = docs.orderBy($"doc_id").limit(1)
      .select($"doc_id", $"text").as[(Long, String)].head()
    TextProfile.bm25Index(docs.filter($"doc_id" =!= target._1),
      "doc_id", "text").write(idxDir)
    implicit val sqlCtx = s.sqlContext
    val docsIn = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val qIn = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val outDir = s"$root/out"
    val ingest = graft.streaming.StreamJobs.bm25IngestStream(
        docsIn.toDS().toDF("doc_id", "text"), idxDir, "text", "live")
      .option("checkpointLocation", s"$root/ckpt_i").start()
    // k deep enough to hold EVERY doc sharing a query term: the
    // synthetic vocabulary is near-universal, so a top-5 assertion
    // would hinge on the target out-scoring its neighbors — the claim
    // here is VISIBILITY (index re-read per batch), not ranking
    val serve = graft.streaming.StreamJobs.bm25LookupStream(
        qIn.toDS().toDF("q_id", "qtext"), idxDir, outDir,
        "q_id", "qtext", "doc_id", k = 1000, stopwordCut = false)
      .option("checkpointLocation", s"$root/ckpt_s").start()
    // the query = the target doc's first tokens; its own doc_id must
    // surface as a hit once (and only once) the doc is ingested
    val qtext = target._2.split("\\s+").take(6).mkString(" ")
    def hits(): Long =
      s.read.parquet(outDir).filter($"doc_id" === target._1).count()
    try {
      qIn.addData(Seq((1L, qtext))); serve.processAllAvailable()
      assert(hits() === 0L, "target retrievable before its ingest?")
      docsIn.addData(Seq(target)); ingest.processAllAvailable()
      qIn.addData(Seq((2L, qtext))); serve.processAllAvailable()
      assert(hits() === 1L,
        "ingested doc not retrievable by the serve's next batch")
    } finally { ingest.stop(); serve.stop() }
  }

  test("serve beside ingest on one BM25 store: every serve batch equals a fresh index over a committed prefix; every read is one generation") {
    val s = spark
    import s.implicits._
    val all = Tables.load(s, sf0001, "documents").select("doc_id", "text")
      .orderBy("doc_id").limit(420).as[(Long, String)].collect().toSeq
    val (seed, rest) = all.splitAt(200)
    val batches = rest.grouped(20).toSeq // 11 ingest batches
    val root = tmp("beside")
    val dir = s"$root/idx"
    TextProfile.bm25Index(seed.toDF("doc_id", "text"), "doc_id", "text")
      .write(dir)
    val queries = Seq(all(3), all(210), all(260), all(330), all(410))
      .zipWithIndex.map { case ((_, text), i) =>
        (i.toLong, text.split("\\s+").take(4).mkString(" "))
      }
    val qdf = queries.toDF("q_id", "qtext")
    // the serve's possible answers: a fresh index over each committed
    // prefix of the ingest batches
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.select("q_id", "doc_id", "rank").collect().map(_.toSeq).toSet
    val prefixes = (0 to batches.size).map { j =>
      rows(TextProfile.bm25TopKWithIndex(qdf, "q_id", "qtext",
        TextProfile.bm25Index((seed ++ batches.take(j).flatten)
          .toDF("doc_id", "text"), "doc_id", "text"), k = 5,
        stopwordCut = false))
    }
    implicit val sqlCtx = s.sqlContext
    val docsIn = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val qIn = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val outDir = s"$root/out"
    val ingest = graft.streaming.StreamJobs.bm25IngestStream(
        docsIn.toDS().toDF("doc_id", "text"), dir, "text", "beside")
      .option("checkpointLocation", s"$root/ckpt_i").start()
    val serve = graft.streaming.StreamJobs.bm25LookupStream(
        qIn.toDS().toDF("q_id", "qtext"), dir, outDir, "q_id", "qtext",
        "doc_id", k = 5, stopwordCut = false)
      .option("checkpointLocation", s"$root/ckpt_s").start()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      try batches.foreach { b =>
        docsIn.addData(b); ingest.processAllAvailable()
      } catch { case e: Throwable => failure.set(e) }
    }, "graft-ingest-beside")
    var reads = 0
    try {
      writer.start()
      while (writer.isAlive || reads < 2) {
        qIn.addData(queries); serve.processAllAvailable()
        // a read taken mid-ingest is one generation: its df partials
        // count exactly its postings' (term, doc) pairs, and N its docs
        val idx = TextProfile.readBm25Index(s, dir, "doc_id")
        val pairs = idx.postings.select("term", "doc_id").distinct().count()
        val sumDf = idx.dfreq.agg(sum("__df")).head().getLong(0)
        val docs = idx.postings.select("doc_id").distinct().count()
        assert(sumDf === pairs, s"read $reads: Σdf $sumDf != pairs $pairs")
        assert(idx.nDocs === docs, s"read $reads: N ${idx.nDocs} != docs $docs")
        reads += 1
      }
      writer.join()
      qIn.addData(queries); serve.processAllAvailable()
    } finally { ingest.stop(); serve.stop() }
    assert(failure.get() === null, s"ingest failed: ${failure.get()}")
    assert(storeRecord(dir).applied.size === batches.size)
    val served = s.read.parquet(outDir)
    val ids = served.select("batch_id").distinct().as[Long].collect().sorted
    assert(ids.length >= 2)
    ids.foreach { id =>
      val got = rows(served.filter($"batch_id" === id))
      assert(prefixes.contains(got),
        s"serve batch $id matches no committed prefix: $got")
    }
    // the serve after the last commit sees everything
    assert(rows(served.filter($"batch_id" === ids.last)) === prefixes.last)
  }

  test("ivfPqIngestBatch: replay converges; streamed encode matches full-build codes") {
    val s = spark
    import s.implicits._
    val emb = Tables.load(s, sf0001, "embeddings")
    val dir = tmp("ivfpq")
    val full = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
      dim = 64, nlist = 8, m = 4, ksub = 16, residual = true)
    full.copy(codes = full.codes.filter($"vec_id" % 2 === 0))
      .write(dir)
    full.release()
    val b1 = emb.filter($"vec_id" % 2 === 1)
      .select($"vec_id", $"embedding")
    def enc() = Similarity.ivfPqEncoder(
      Similarity.readIvfPqIndex(s, dir, "vec_id", "embedding"))
    Similarity.ivfPqIngestBatch(enc(), b1, dir, "r0-0")
    def probe() = Similarity.ivfPqTopKWithIndex(
      emb.filter($"vec_id" % 100 === 0),
      Similarity.readIvfPqIndex(s, dir, "vec_id", "embedding"),
      k = 5, nprobe = 3).orderBy("q_id", "rank").collect().toSeq
    val want = probe()
    // the ingested store's probe equals an all-batch-built store's
    val fullDir = tmp("ivfpq-full")
    val again = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
      dim = 64, nlist = 8, m = 4, ksub = 16, residual = true)
    again.write(fullDir)
    again.release()
    assert(want === Similarity.ivfPqTopKWithIndex(
      emb.filter($"vec_id" % 100 === 0),
      Similarity.readIvfPqIndex(s, fullDir, "vec_id", "embedding"),
      k = 5, nprobe = 3).orderBy("q_id", "rank").collect().toSeq,
      "ingested store diverged from the full build")
    val rows = s.read.parquet(s"$dir/codes.parquet").count()
    Similarity.ivfPqIngestBatch(enc(), b1, dir, "r0-0")
    assert(s.read.parquet(s"$dir/codes.parquet").count() === rows)
    assert(probe() === want)
  }

  test("minhashIngestBatch: stored-scheme signing, replay converges, pairs match the fresh path") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(s, sf0001, "documents")
    val dir = tmp("minhash")
    graft.operators.Dedup.writeMinhashIndex(
      graft.operators.Dedup.minhashIndex(
        docs.filter($"doc_id" % 2 === 0), "doc_id", "text",
        n = 3, numHashes = 16, rowsPerBand = 4), dir)
    val b1 = docs.filter($"doc_id" % 2 === 1)
      .select($"doc_id", $"text")
    graft.operators.Dedup.minhashIngestBatch(b1, dir, "doc_id",
      "text", "r0-0")
    def pairs() = graft.operators.Dedup.minhashLshPairsFromIndex(
      graft.operators.Dedup.readMinhashIndex(s, dir, "doc_id", "text",
        n = 3, numHashes = 16, rowsPerBand = 4), threshold = 0.5)
      .orderBy("id_a", "id_b").collect().toSeq
    val want = pairs()
    assert(want === graft.operators.Dedup.minhashLshPairs(docs,
      "doc_id", "text", n = 3, numHashes = 16, rowsPerBand = 4,
      threshold = 0.5).orderBy("id_a", "id_b").collect().toSeq,
      "index-derived pairs diverged from the fresh path")
    val rows = s.read.parquet(s"$dir/signed.parquet").count()
    graft.operators.Dedup.minhashIngestBatch(b1, dir, "doc_id",
      "text", "r0-0")
    assert(s.read.parquet(s"$dir/signed.parquet").count() === rows)
    assert(pairs() === want)
    // a directory without a store record cannot take streaming ingest
    val fs = fsOf(dir)
    fs.delete(new org.apache.hadoop.fs.Path(dir, Store.RecordFile),
      false)
    intercept[java.io.IOException] {
      graft.operators.Dedup.minhashIngestBatch(b1, dir, "doc_id",
        "text", "r0-1")
    }
  }

  test("CorpusProfile.ingestBatch: replay repairs the torn tokens-without-strata state appendOnce documents") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(s, sf0001, "documents")
    val dir = tmp("profile")
    graft.operators.CorpusProfile.write(
      graft.operators.CorpusProfile.build(
        docs.filter($"doc_id" % 2 === 0), "doc_id", "lang", "text"),
      dir)
    val b1 = docs.filter($"doc_id" % 2 === 1)
    def ingest() = graft.operators.CorpusProfile.ingestBatch(b1, dir,
      "doc_id", "lang", "text", "r0-0")
    def stats() = graft.operators.CorpusProfile.stats(
      graft.operators.CorpusProfile.read(s, dir, "lang", "text"))
      .orderBy("lang").collect().toSeq
    val seeded = stats()
    // the torn state a crash between the tokens and strata files
    // leaves — tokens renamed in, strata not, record not committed —
    // is invisible: readers see the pre-batch profile
    val before = recordJson(dir)
    ingest()
    val fs = fsOf(dir)
    uncommit(dir, before, "r0-0")
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/strata.parquet"))
      .filter(_.getPath.getName.startsWith("ingest-r0-0-"))
      .foreach(f => fs.delete(f.getPath, false))
    assert(stats() === seeded, "torn attempt visible to readers")
    // the replay purges the torn leftovers and converges
    ingest()
    val want = stats()
    assert(want === graft.operators.CorpusProfile.stats(
      graft.operators.CorpusProfile.build(docs, "doc_id", "lang",
        "text")).orderBy("lang").collect().toSeq,
      "streamed partials diverged from the direct build")
    // clean replay
    ingest()
    assert(stats() === want)
  }

  test("ivfIngestBatch: replay converges; ingested store probes identically to full build") {
    val s = spark
    import s.implicits._
    val emb = Tables.load(s, sf0001, "embeddings")
    val dir = tmp("ivf")
    val full = Similarity.ivfIndex(emb, "vec_id", "embedding",
      nlist = 8)
    full.copy(assigned = full.assigned.filter($"nn_id" % 3 === 0))
      .write(dir)
    val b1 = emb.filter($"vec_id" % 3 === 1)
      .select($"vec_id", $"embedding")
    val b2 = emb.filter($"vec_id" % 3 === 2)
      .select($"vec_id", $"embedding")
    def ready() = Similarity.ivfReady(
      Similarity.readIvfIndex(s, dir, "vec_id", "embedding"))
    Similarity.ivfIngestBatch(ready(), b1, dir, "r0-0")
    Similarity.ivfIngestBatch(ready(), b2, dir, "r0-1")
    def probe() = Similarity.ivfTopKWithIndex(
      emb.filter($"vec_id" % 100 === 0),
      Similarity.readIvfIndex(s, dir, "vec_id", "embedding"),
      k = 5, nprobe = 3).orderBy("q_id", "rank").collect().toSeq
    val want = probe()
    assert(want === Similarity.ivfTopKWithIndex(
      emb.filter($"vec_id" % 100 === 0), full, k = 5, nprobe = 3)
      .orderBy("q_id", "rank").collect().toSeq,
      "ingested store diverged from the full build")
    val rows = s.read.parquet(s"$dir/assigned.parquet").count()
    // replay both batches; row count and probe must not move
    Similarity.ivfIngestBatch(ready(), b1, dir, "r0-0")
    Similarity.ivfIngestBatch(ready(), b2, dir, "r0-1")
    assert(s.read.parquet(s"$dir/assigned.parquet").count() === rows)
    assert(probe() === want)
  }

  test("bm25 serve: both batch bands equal the batch probe; a replay leaves one copy") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(s, sf0001, "documents")
    val root = tmp("bands")
    val dir = s"$root/idx"
    TextProfile.bm25Index(docs, "doc_id", "text").write(dir)
    // one query per doc, its first four tokens: a 40-query batch is
    // collected to the driver, a 300-query batch goes through widen
    val qs = docs.orderBy("doc_id").select("text").as[String].collect()
      .toSeq.zipWithIndex.map { case (t, i) =>
        (i.toLong, t.split("\\s+").take(4).mkString(" "))
      }
    val (small, large) = (qs.take(40), qs.slice(40, 340))
    assert(large.size === 300)
    val out = serveWithReplay(root, ("q_id", "qtext"), small, large) {
      (in, o) => StreamJobs.bm25LookupStream(in, dir, o, "q_id", "qtext",
        "doc_id", k = 5, stopwordCut = false)
    }
    val idx = TextProfile.readBm25Index(s, dir, "doc_id")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    Seq(0 -> small, 1 -> large).foreach { case (id, batch) =>
      val want = TextProfile.bm25TopKWithIndex(batch.toDF("q_id", "qtext"),
        "q_id", "qtext", idx, k = 5, stopwordCut = false)
      val got = s.read.parquet(s"$out/batch_id=$id")
        .select(want.columns.map(col): _*)
      assert(rows(got) === rows(want), s"batch $id")
    }
    ModelCache.invalidate(dir)
  }

  test("every store kind's append skips an empty batch: no tag, no new generation") {
    val s = spark
    val docs = Tables.load(s, sf0001, "documents").limit(60)
    val emb = Tables.load(s, sf0001, "embeddings").limit(60)
      .select("vec_id", "embedding")
    val (none, noVecs) = (docs.limit(0), emb.limit(0))
    // (store kind, create the store, append an empty batch to it)
    val kinds: Seq[(String, String => Unit, String => Unit)] = Seq(
      ("bm25", d => TextProfile.bm25Index(docs, "doc_id", "text").write(d),
        d => TextProfile.bm25IngestBatch(none, "text", d, "e-0")),
      ("ivf", d => Similarity.ivfIndex(emb, "vec_id", "embedding",
          nlist = 4).write(d),
        d => Similarity.ivfIngestBatch(Similarity.ivfReady(
          Similarity.readIvfIndex(s, d, "vec_id", "embedding")), noVecs,
          d, "e-0")),
      ("ivfpq", d => {
          val i = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
            dim = 64, nlist = 4)
          i.write(d); i.release()
        },
        d => Similarity.ivfPqIngestBatch(Similarity.ivfPqEncoder(
          Similarity.readIvfPqIndex(s, d, "vec_id", "embedding")), noVecs,
          d, "e-0")),
      ("minhash", d => Dedup.writeMinhashIndex(
          Dedup.minhashIndex(docs, "doc_id", "text", 3, 16, 4), d),
        d => Dedup.minhashIngestBatch(none, d, "doc_id", "text", "e-0")),
      ("profile", d => CorpusProfile.write(
          CorpusProfile.build(docs, "doc_id", "lang", "text"), d),
        d => CorpusProfile.ingestBatch(none, d, "doc_id", "lang", "text",
          "e-0")),
      ("lm", d => LmScore.writeModel(docs, "text", d),
        d => LmScore.appendModel(none, "text", d, "e-0")),
      ("nb", d => Classify.writeNbModel(docs, "lang", "text", d),
        d => Classify.appendNbModel(none, "lang", "text", d, "e-0")),
      ("decon", d => Curation.writeDeconSet(docs, "doc_id", "text", 8, d),
        d => Curation.deconSetAppend(none, "doc_id", "text", d)))
    kinds.foreach { case (kind, create, appendEmpty) =>
      val d = tmp(s"empty-$kind")
      create(d)
      val before = storeRecord(d)
      // a serve beside the append: its cached handle reloads only when
      // the generation moves
      var loads = 0
      def serveBatch(): Unit =
        ModelCache.getOrLoad(s, d, key = s"$d#empty")(loads += 1)(_ => ())
      serveBatch()
      appendEmpty(d)
      serveBatch()
      val after = storeRecord(d)
      assert(after.generation === before.generation,
        s"$kind: an empty append raised the generation")
      assert(after.applied === before.applied,
        s"$kind: an empty append committed a tag")
      assert(loads === 1, s"$kind: the serve reloaded")
      ModelCache.invalidate(d)
    }
  }
}
