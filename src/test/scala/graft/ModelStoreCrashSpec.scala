package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Classify, CorpusProfile, LmScore, Maintenance,
  Similarity, TextProfile}

/** One fixed crash case per store kind over the store protocol
  * (`graft.store.Store`): the NB classifier model, the bigram LM
  * model, the corpus profile, the BM25 index and the IVF index. The
  * protocol itself (every kill point of generated append / replay /
  * compact sequences) is `StoreProtocolSpec`'s, without Spark; this
  * spec checks that each kind's tables and contributions fold like its
  * batch build once a torn append replays: partials collapse once,
  * orphans never leak, a committed replay is a no-op, compaction
  * changes nothing. */
class ModelStoreCrashSpec extends SparkSpec {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-msc-$name")
      .toString + "/store"

  /** Deterministic tiny labeled batches. Vocab overlaps across
    * batches on purpose — colliding (label, token) / (w1, w2) /
    * (stratum, token) keys are what make partial-collapse correctness
    * non-trivial. Doc ids are tag-disjoint (the profile's df
    * additivity contract). */
  private def docsOf(tag: Int): Seq[(Long, String, String)] =
    (0 until 3).map { i =>
      val id = tag * 10L + i
      (id, s"l${(tag + i) % 2}",
        s"common w${tag % 3} shared t$i w${(tag + i) % 4} common")
    }

  private def df(tags: Seq[Int]): DataFrame = {
    val s = spark
    import s.implicits._
    tags.flatMap(docsOf).toDF("doc_id", "label", "text")
  }

  /** Adapter over one store. */
  private trait StoreOps {
    def name: String
    def create(dir: String, tags: Seq[Int]): Unit
    def append(dir: String, tag: Int): Unit
    def compact(dir: String): Unit
    def canonical(dir: String): Seq[String]
    def fresh(tags: Seq[Int]): Seq[String]
  }

  private object NbStore extends StoreOps {
    val name = "nb"
    def create(dir: String, tags: Seq[Int]): Unit =
      Classify.writeNbModel(df(tags), "label", "text", dir)
    def append(dir: String, tag: Int): Unit =
      Classify.appendNbModel(df(Seq(tag)), "label", "text", dir,
        s"t$tag")
    def compact(dir: String): Unit = Classify.nbCompact(spark, dir)
    def canonical(dir: String): Seq[String] =
      canon(Classify.readNbModel(spark, dir))
    def fresh(tags: Seq[Int]): Seq[String] =
      canon(Classify.trainNb(df(tags), "label", "text"))
    private def canon(m: Classify.NbModel): Seq[String] =
      (m.counts.select("label", "token", "c").collect()
          .map(r => s"c|${r.get(0)}|${r.get(1)}|${r.get(2)}").sorted ++
        m.classes.select("label", "d").collect()
          .map(r => s"d|${r.get(0)}|${r.get(1)}").sorted :+
        s"V|${m.vocab}").toSeq
  }

  private object LmStore extends StoreOps {
    val name = "lm"
    def create(dir: String, tags: Seq[Int]): Unit =
      LmScore.writeModel(df(tags), "text", dir)
    def append(dir: String, tag: Int): Unit =
      LmScore.appendModel(df(Seq(tag)), "text", dir, s"t$tag")
    def compact(dir: String): Unit = LmScore.modelCompact(spark, dir)
    def canonical(dir: String): Seq[String] =
      canon(LmScore.readModel(spark, dir))
    def fresh(tags: Seq[Int]): Seq[String] =
      canon(LmScore.train(df(tags), "text"))
    private def canon(m: LmScore.Model): Seq[String] =
      (m.bigrams.select("w1", "w2", "c12").collect()
          .map(r => s"b|${r.get(0)}|${r.get(1)}|${r.get(2)}").sorted ++
        m.firsts.select("w1", "c1").collect()
          .map(r => s"f|${r.get(0)}|${r.get(1)}").sorted :+
        s"V|${m.vocab}").toSeq
  }

  private object ProfileStore extends StoreOps {
    val name = "profile"
    def create(dir: String, tags: Seq[Int]): Unit =
      CorpusProfile.write(
        CorpusProfile.build(df(tags), "doc_id", "label", "text"), dir)
    def append(dir: String, tag: Int): Unit =
      CorpusProfile.ingestBatch(df(Seq(tag)), dir, "doc_id", "label",
        "text", s"t$tag")
    def compact(dir: String): Unit = CorpusProfile.compact(spark, dir)
    def canonical(dir: String): Seq[String] =
      canon(CorpusProfile.read(spark, dir, "label", "text"))
    def fresh(tags: Seq[Int]): Seq[String] =
      canon(CorpusProfile.build(df(tags), "doc_id", "label", "text"))
    private def canon(p: CorpusProfile.Profile): Seq[String] = {
      val a = CorpusProfile.aggregated(p)
      (a.strata.select("stratum", "docs", "tokens", "chars").collect()
          .map(r => s"s|${r.get(0)}|${r.get(1)}|${r.get(2)}|${r.get(3)}")
          .sorted ++
        a.tokens.select("stratum", "token", "df", "tf").collect()
          .map(r => s"t|${r.get(0)}|${r.get(1)}|${r.get(2)}|${r.get(3)}")
          .sorted).toSeq
    }
  }

  private object Bm25Store extends StoreOps {
    val name = "bm25"
    def create(dir: String, tags: Seq[Int]): Unit =
      TextProfile.bm25Index(df(tags), "doc_id", "text").write(dir)
    def append(dir: String, tag: Int): Unit =
      TextProfile.bm25IngestBatch(df(Seq(tag)), "text", dir, s"t$tag")
    def compact(dir: String): Unit = {
      Maintenance.compactAll(spark, Seq(dir)); ()
    }
    def canonical(dir: String): Seq[String] =
      canon(TextProfile.readBm25Index(spark, dir, "doc_id"))
    def fresh(tags: Seq[Int]): Seq[String] =
      canon(TextProfile.bm25Index(df(tags), "doc_id", "text"))
    private def canon(i: TextProfile.Bm25Index): Seq[String] =
      (i.postings.select("doc_id", "term", "__tf", "__len").collect()
          .map(r => s"p|${r.get(0)}|${r.get(1)}|${r.get(2)}|${r.get(3)}")
          .sorted ++
        i.dfreq.select("term", "__df").collect()
          .map(r => s"df|${r.get(0)}|${r.get(1)}").sorted :+
        s"N|${i.nDocs}|T|${i.totTokens}").toSeq
  }

  /** IVF appends assign to the STORED codebook, so the ground truth
    * is the in-memory append onto the seed build (tag 0), not a
    * fresh training over every tag. */
  private object IvfStore extends StoreOps {
    val name = "ivf"
    private def vecs(tags: Seq[Int]): DataFrame = {
      val s = spark
      import s.implicits._
      tags.flatMap(t => (0 until 3).map { i =>
        val id = t * 10L + i
        (id, Array.tabulate(4)(d => ((id * 7 + d * 3) % 11 - 5).toFloat))
      }).toDF("vec_id", "embedding")
    }
    private def seed = Similarity.ivfIndex(vecs(Seq(0)), "vec_id",
      "embedding", nlist = 2)
    def create(dir: String, tags: Seq[Int]): Unit = seed.write(dir)
    def append(dir: String, tag: Int): Unit =
      Similarity.ivfIngestBatch(Similarity.ivfReady(Similarity
        .readIvfIndex(spark, dir, "vec_id", "embedding")), vecs(Seq(tag)),
        dir, s"t$tag")
    def compact(dir: String): Unit = {
      Maintenance.compactAll(spark, Seq(dir)); ()
    }
    def canonical(dir: String): Seq[String] = canon(
      Similarity.readIvfIndex(spark, dir, "vec_id", "embedding").assigned)
    def fresh(tags: Seq[Int]): Seq[String] = canon(
      Similarity.ivfIndexAppend(seed, vecs(tags.filter(_ != 0))).assigned)
    private def canon(assigned: DataFrame): Seq[String] =
      assigned.select("nn_id", "cell", "nn_nrm").collect()
        .map(r => s"a|${r.get(0)}|${r.get(1)}|${r.get(2)}").sorted.toSeq
  }

  /** One fixed crash case: build tag 0 and append t1; leave t2 torn
    * (its files renamed in, one kept, the record never committed), so
    * the store reads as {0,1}; replay t2; replay t1, a no-op that keeps
    * the generation; compact; the store reads as {0,1,2}. */
  private def crashCase(store: StoreOps): Unit = {
    val dir = tmp(store.name)
    store.create(dir, Seq(0))
    store.append(dir, 1)
    val before = recordJson(dir)
    store.append(dir, 2)
    uncommit(dir, before, "t2", keep = 1)
    assert(store.canonical(dir) === store.fresh(Seq(0, 1)),
      s"${store.name}: the torn t2 is visible")
    store.append(dir, 2)
    val gen = storeRecord(dir).generation
    store.append(dir, 1)
    assert(storeRecord(dir).generation === gen,
      s"${store.name}: the committed t1 re-applied")
    store.compact(dir)
    assert(store.canonical(dir) === store.fresh(Seq(0, 1, 2)),
      s"${store.name}: the store diverged from the fresh build over {0,1,2}")
  }

  test("NB model store: a torn append is invisible, its replay applies once, a committed replay is a no-op, compaction folds like a fresh train") {
    crashCase(NbStore)
  }

  test("LM model store: a torn append is invisible, its replay applies once, a committed replay is a no-op, compaction folds like a fresh train") {
    crashCase(LmStore)
  }

  test("corpus profile store: a torn append is invisible, its replay applies once, a committed replay is a no-op, compaction folds like a fresh build") {
    crashCase(ProfileStore)
  }

  test("BM25 index store: a torn append is invisible, its replay applies once, a committed replay is a no-op, compaction folds like a fresh build") {
    crashCase(Bm25Store)
  }

  test("IVF index store: a torn append is invisible, its replay applies once, a committed replay is a no-op, compaction folds like the in-memory append") {
    crashCase(IvfStore)
  }
}
