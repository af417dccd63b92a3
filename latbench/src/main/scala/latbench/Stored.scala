package latbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Retrieval, Similarity, TextProfile}
import graft.streaming.{ModelCache, StreamJobs}

/** The two stored indexes both store workloads use: a BM25 posting
  * index and an IVF index over one generated corpus, kept under
  * `dir/bm25` and `dir/ivf`. */
object Stored {
  val CorpusDocs = 5000
  val Vocab = 5000
  val Dim = 32
  val Clusters = 64
  val NList = 64
  val NProbe = 4
  val K = 10

  def corpus(seed: Long) = new Gen.Corpus(seed, Vocab, Dim, Clusters)

  def docsDf(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(docs.map(d => (d.id, d.text, d.vec)))
      .toDF("doc_id", "text", "embedding")

  /** Build both stores over `docs`; returns the seconds it took. */
  def build(spark: SparkSession, docs: Seq[Gen.Doc], dir: File): Double = {
    val t0 = System.nanoTime()
    val df = docsDf(spark, docs)
    Tracer.span("TextProfile.bm25Index.write") {
      TextProfile.bm25Index(df, "doc_id", "text")
        .write(new File(dir, "bm25").toString)
    }
    Tracer.span("Similarity.ivfIndex.write") {
      Similarity.ivfIndex(df, "doc_id", "embedding", nlist = NList)
        .write(new File(dir, "ivf").toString)
    }
    (System.nanoTime() - t0) / 1e9
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  def dot(a: Array[Float], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** The k best of `xs` by (score desc, id asc). */
  def topK[S](xs: Iterable[(Long, S)], k: Int)(implicit o: Ordering[S])
      : Seq[(Long, S)] =
    xs.toSeq.sorted(Ordering.by[(Long, S), (S, Long)](x => (x._2, -x._1))
      .reverse).take(k)

  /** Reference BM25 over the generated documents, with the engine's
    * integer-exact scoring (stopword cut at df > N/2, Lucene-form idf
    * bit length, tf/length saturation). */
  final class Bm25Ref(docs: Iterable[Gen.Doc]) {
    private val post = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long, Long)]]
    val n: Long = docs.size.toLong
    var t = 0L
    docs.foreach { d =>
      val toks = d.text.split(" ")
      t += toks.length
      toks.groupBy(identity).foreach { case (w, a) =>
        post.getOrElseUpdate(w, mutable.ArrayBuffer.empty) +=
          ((d.id, a.length.toLong, toks.length.toLong))
      }
    }
    def terms: collection.Set[String] = post.keySet
    def df(term: String): Long = post.get(term).map(_.length.toLong).getOrElse(0L)
    /** doc id -> its (term, tf, length) postings. */
    def byDoc: Map[Long, Set[(String, Long, Long)]] =
      post.toSeq.flatMap { case (w, ps) => ps.map { case (id, tf, len) => id -> ((w, tf, len)) } }
        .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    def topK(text: String, k: Int): Seq[Long] = {
      val scores = mutable.HashMap.empty[Long, Long]
      text.split(" ").distinct.foreach { w =>
        post.get(w).foreach { ps =>
          val df = ps.length.toLong
          if (df * 2 <= n) {
            val x = 1 + (2 * n - 2 * df + 1) / (2 * df + 1)
            val idf = 64L - java.lang.Long.numberOfLeadingZeros(x)
            ps.foreach { case (id, tf, len) =>
              val num = Math.multiplyExact(
                Math.multiplyExact(idf * 22, Math.multiplyExact(t, tf)), 10000L)
              val den = 10 * t * tf + 3 * t + 9 * len * n
              scores(id) = scores.getOrElse(id, 0L) + num / den
            }
          }
        }
      }
      Stored.topK(scores, k).map(_._1)
    }
  }

  /** Reference IVF probe: the `nprobe` best cells by the stored
    * codebook, then a brute-force cosine scan of those cells. */
  final class IvfRef(spark: SparkSession, dir: File, vecOf: Long => Array[Float]) {
    private val ivf = new File(dir, "ivf").toString
    private val cents: Array[(Any, Array[Double], Double)] =
      spark.read.parquet(s"$ivf/codebook.parquet").orderBy(col("cent_id"))
        .collect().map(r => (r.get(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    private val cells: Map[Any, Array[(Long, Double)]] =
      graft.sources.Sinks.readTagged(spark, s"$ivf/assigned.parquet")
        .select(col("cell"), col("nn_id"), col("nn_nrm")).collect()
        .groupBy(_.get(0)).map { case (c, rs) =>
          c -> rs.map(r => (r.getLong(1), r.getDouble(2)))
        }
    /** The engine's cell assignment: best cosine to a centroid, ties to
      * the lower centroid index. */
    def cellOf(v: Array[Float]): Any = {
      val n = math.sqrt(dot(v, v))
      var best = 0
      var bestS = Double.NegativeInfinity
      for (i <- cents.indices) {
        val s = dot(v, cents(i)._2) / (n * cents(i)._3)
        if (s > bestS) { bestS = s; best = i }
      }
      cents(best)._1
    }
    def cellSizes: Seq[Int] = cents.toSeq.map(c => cells.get(c._1).map(_.length).getOrElse(0))
    def topK(q: Array[Float], k: Int): Seq[Long] = {
      val qn = math.sqrt(dot(q, q))
      val probes = cents.indices.map { i =>
        (dot(q, cents(i)._2) / (qn * cents(i)._3), i)
      }.sortBy { case (s, i) => (-s, i) }.take(NProbe).map(p => cents(p._2)._1)
      val cand = probes.flatMap(c => cells.getOrElse(c, Array.empty[(Long, Double)]))
        .map { case (id, nrm) =>
          id -> dot(q, vecOf(id)) / (qn * nrm)
        }
      Stored.topK(cand, k).map(_._1)
    }
  }

  /** Integer-exact RRF of ranked id lists (k0 = 60, scale 10^6). */
  def rrf(lists: Seq[Seq[Long]], k: Int): Seq[(Long, Long)] = {
    val s = mutable.HashMap.empty[Long, Long]
    lists.foreach(_.zipWithIndex.foreach { case (id, i) =>
      s(id) = s.getOrElse(id, 0L) + 1000000L / (60 + i + 1)
    })
    topK(s, k)
  }
}

/** Text+vector queries through `StreamJobs.hybridLookupStream` (BM25 +
  * IVF + RRF) against stores built at set-up. */
final class ServeStored(seed: Long) extends Workload {
  import Stored._
  val tickMs = 50
  val perTick = 1
  override val openShare = 0.85
  val chunk = 64
  val warmupChunks = 2

  private val gen = corpus(seed)
  private var docs: IndexedSeq[Gen.Doc] = IndexedSeq.empty
  private var nextQ = 0L
  private var dir: File = _
  private var outDir: File = _
  private var input: MemoryStream[(Long, String, Array[Float])] = _
  private var q: StreamingQuery = _
  private val asked = mutable.ArrayBuffer.empty[Gen.Query]
  def queries: Seq[StreamingQuery] = Seq(q)

  def start(spark: SparkSession, dir: File, build: Boolean): Double = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    this.dir = dir
    docs = (0 until CorpusDocs).map(i => gen.doc(i.toLong))
    val buildS = if (build) Stored.build(spark, docs, dir) else 0.0
    val run = new File(dir, s"serve-${System.nanoTime()}")
    outDir = new File(run, "out")
    input = MemoryStream[(Long, String, Array[Float])](parts(spark))
    q = Tracer.span("DataStreamWriter.start") {
      StreamJobs.hybridLookupStream(
          input.toDS().toDF("q_id", "qtext", "embedding"),
          new File(dir, "bm25").toString, new File(dir, "ivf").toString,
          outDir.toString, "q_id", "qtext", "embedding",
          docIdCol = "doc_id", vecIdCol = "doc_id", k = K, nprobe = NProbe)
        .option("checkpointLocation", new File(run, "ckpt").toString)
        .start()
    }
    buildS
  }

  private def next(n: Int): Seq[Gen.Query] = {
    val qs = (0 until n).map(i => gen.query(nextQ + i, CorpusDocs))
    nextQ += n
    qs
  }

  def offer(n: Int, schedMs: Long, phase: Int): Unit = {
    val qs = next(n)
    asked ++= qs
    record(schedMs, n, phase,
      input.addData(qs.map(x => (x.id, x.text, x.vec))))
  }

  def latencies(log: ProgressLog): Seq[Double] = offsetLatencies(log)

  /** Expected fused top-k per query from the reference arms. */
  private def expected(spark: SparkSession, qs: Seq[Gen.Query])
      : Map[Long, Seq[(Long, Long)]] = {
    val bm = new Bm25Ref(docs)
    val ivf = new IvfRef(spark, dir, id => docs(id.toInt).vec)
    qs.map(x => x.id -> rrf(Seq(bm.topK(x.text, K), ivf.topK(x.vec, K)), K))
      .toMap
  }

  private def compare(want: Map[Long, Seq[(Long, Long)]], rows: Seq[Row]): Long = {
    val got = rows.groupBy(_.getLong(0)).map { case (id, rs) =>
      id -> rs.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getLong(3)))
    }
    val bad = want.count { case (id, w) => got.getOrElse(id, Nil) != w } +
      got.keys.count(!want.contains(_))
    if (bad > 0) {
      val ex = want.find { case (id, w) => got.getOrElse(id, Nil) != w }
      System.err.println(s"serve_stored: $bad wrong queries, e.g. $ex vs " +
        ex.map(e => got.getOrElse(e._1, Nil)))
    }
    bad.toLong
  }

  def check(spark: SparkSession): (Long, Long) = {
    val rows = spark.read.parquet(outDir.toString)
      .select("q_id", "rank", "doc_id", "rrf_score").collect().toSeq
    (asked.length.toLong, compare(expected(spark, asked.toSeq), rows))
  }

  /** The traced split pass: each operator the serve query composes,
    * called on its own over the same chunk. Returns per-chunk ms of
    * (bm25, ivf, fuse) and the pass's (attempted, failed). */
  def splitPass(spark: SparkSession, chunks: Int)
      : (Seq[(Double, Double, Double)], (Long, Long)) = {
    val bmDir = new File(dir, "bm25").toString
    val bm = TextProfile.readBm25Index(spark, bmDir, "doc_id")
    val index = bm.copy(dfreq = bm.dfreq.persist())
    val ready = Similarity.ivfReady(Similarity.readIvfIndex(spark,
      new File(dir, "ivf").toString, "doc_id", "embedding"))
    val all = mutable.ArrayBuffer.empty[Gen.Query]
    val rows = mutable.ArrayBuffer.empty[Row]
    def ms[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = Tracer.span(name)(body)
      (r, (System.nanoTime() - t0) / 1e6)
    }
    val times = (0 until chunks).map { _ =>
      val qs = next(chunk)
      all ++= qs
      val qdf = spark.createDataFrame(qs.map(x => (x.id, x.text, x.vec)))
        .toDF("q_id", "qtext", "embedding")
      val (lex, tb) = ms("TextProfile.bm25TopKWithIndex") {
        TextProfile.bm25TopKWithIndex(qdf, "q_id", "qtext", index, K)
          .select(col("q_id"), col("doc_id").as("id"), col("rank")).collect()
      }
      val (sem, ti) = ms("Similarity.ivfTopKWithReady") {
        Similarity.ivfTopKWithReady(
          qdf.select(col("q_id").as("doc_id"), col("embedding")), ready, K, NProbe)
          .select(col("q_id"), col("nn_id").as("id"), col("rank")).collect()
      }
      val (fused, tf) = ms("Retrieval.rrfFuse") {
        def local(rs: Array[Row]) = spark.createDataFrame(
          rs.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
          .toDF("q_id", "id", "rank")
        Retrieval.rrfFuse(Seq(local(lex), local(sem)), "q_id", "id", "rank", K)
          .select("q_id", "rank", "id", "rrf_score").collect()
      }
      rows ++= fused
      (tb, ti, tf)
    }
    index.dfreq.unpersist()
    (times, (all.length.toLong, compare(expected(spark, all.toSeq), rows.toSeq)))
  }

  def inputProps: Seq[(String, Double)] = {
    val lens = docs.map(_.text.count(_ == ' ') + 1)
    Seq("queries" -> asked.length.toDouble,
      "terms_per_query" -> asked.map(_.text.count(_ == ' ') + 1).sum.toDouble /
        math.max(1, asked.length),
      "doc_len_mean" -> lens.sum.toDouble / math.max(1, lens.length),
      "doc_len_max" -> lens.maxOption.getOrElse(0).toDouble)
  }

  /** Vectors per IVF cell (min, median, max) of the stored index. */
  def cellProps(spark: SparkSession): Seq[(String, Double)] = {
    val s = new Stored.IvfRef(spark, dir, _ => Array.empty).cellSizes.map(_.toDouble)
    Seq("vectors_per_cell_min" -> s.min, "vectors_per_cell_p50" -> Stats.median(s),
      "vectors_per_cell_max" -> s.max)
  }
}

/** New documents and vectors appended to the same two stores through
  * `StreamJobs.bm25IngestStream` and `annIngestStream`. Document ids
  * continue from `firstId`; everything below it is already stored. */
final class IngestStored(seed: Long, firstId: Long) extends Workload {
  import Stored._
  val tickMs = 20
  val perTick = 1
  val chunk = 200
  val warmupChunks = 2

  private val gen = corpus(seed)
  private var nextId = firstId
  private var dir: File = _
  private var docsIn: MemoryStream[(Long, String)] = _
  private var vecsIn: MemoryStream[(Long, Array[Float])] = _
  private var qs: Seq[StreamingQuery] = Nil
  def queries: Seq[StreamingQuery] = qs
  def next: Long = nextId

  def start(spark: SparkSession, dir: File, build: Boolean): Double = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    this.dir = dir
    val buildS =
      if (build) Stored.build(spark, (0 until CorpusDocs).map(i => gen.doc(i.toLong)), dir)
      else 0.0
    val run = new File(dir, s"ingest-${System.nanoTime()}")
    val runId = run.getName
    docsIn = MemoryStream[(Long, String)](parts(spark))
    vecsIn = MemoryStream[(Long, Array[Float])](parts(spark))
    qs = Tracer.span("DataStreamWriter.start") {
      Seq(
        StreamJobs.bm25IngestStream(docsIn.toDS().toDF("doc_id", "text"),
            new File(dir, "bm25").toString, "text", runId)
          .option("checkpointLocation", new File(run, "ckpt-bm25").toString)
          .start(),
        StreamJobs.annIngestStream(vecsIn.toDS().toDF("doc_id", "embedding"),
            new File(dir, "ivf").toString, "doc_id", "embedding", runId)
          .option("checkpointLocation", new File(run, "ckpt-ivf").toString)
          .start())
    }
    buildS
  }

  def offer(n: Int, schedMs: Long, phase: Int): Unit = {
    val docs = (0 until n).map(i => gen.doc(nextId + i))
    nextId += n
    record(schedMs, n, phase,
      docsIn.addData(docs.map(d => (d.id, d.text))),
      vecsIn.addData(docs.map(d => (d.id, d.vec))))
  }

  def latencies(log: ProgressLog): Seq[Double] = offsetLatencies(log)

  /** The stores after ingest against a reference batch build of the
    * same documents in the JVM. Every stored document is an item: it
    * fails if its postings or its vector row (cell under the stored
    * codebook, norm, values) differ, if it holds a term whose df
    * differs, or if the N/T totals differ. */
  def check(spark: SparkSession): (Long, Long) = {
    ModelCache.clear()
    val docs = (0L until nextId).map(gen.doc)
    val ref = new Bm25Ref(docs)
    val bm = TextProfile.readBm25Index(spark, new File(dir, "bm25").toString, "doc_id")
    val totalsOk = bm.nDocs == ref.n && bm.totTokens == ref.t
    val df = bm.dfreq.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val badTerms = (df.keySet ++ ref.terms).filter(t => df.getOrElse(t, 0L) != ref.df(t))
    val got = bm.postings.select("doc_id", "term", "__tf", "__len").collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSet
      }
    val want = ref.byDoc
    val ivf = new IvfRef(spark, dir, id => docs(id.toInt).vec)
    val rows = graft.sources.Sinks.readTagged(spark,
        new File(dir, "ivf/assigned.parquet").toString)
      .select("nn_id", "cell", "nn_nrm", "nn_vec").collect().groupBy(_.getLong(0))
    def vecOk(d: Gen.Doc) = rows.get(d.id) match {
      case Some(Array(r)) =>
        r.get(1) == ivf.cellOf(d.vec) &&
          r.getDouble(2) == math.sqrt(dot(d.vec, d.vec)) &&
          r.getSeq[Float](3).toArray.sameElements(d.vec)
      case _ => false
    }
    val bad = docs.count(d => !totalsOk || got.get(d.id) != want.get(d.id) ||
      !vecOk(d) || d.text.split(" ").exists(badTerms))
    val strays = (got.keySet ++ rows.keySet).count(id => id < 0 || id >= nextId)
    if (bad + strays > 0)
      System.err.println(s"ingest_stored: $bad of ${docs.length} documents " +
        s"wrong (totals ok: $totalsOk, ${badTerms.size} df terms), $strays strays")
    (docs.length.toLong + strays, (bad + strays).toLong)
  }

  def inputProps: Seq[(String, Double)] = {
    val lens = (firstId until nextId).map(i => gen.doc(i).text.count(_ == ' ') + 1)
    Seq("docs_ingested" -> lens.length.toDouble,
      "doc_len_mean" -> lens.sum.toDouble / math.max(1, lens.length))
  }
}
