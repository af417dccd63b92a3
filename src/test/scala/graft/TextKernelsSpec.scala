package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextFunctions
import graft.operators.Dedup

/** The codegen text kernels (ShingleSet, MinHashSig,
  * IntersectCountSorted) must be bit-equivalent to the composed
  * column/HOF forms they replace — these specs pin that equivalence,
  * plus the exactness of prefix-filtered Jaccard against brute force.
  */
class TextKernelsSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  private val wordGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private def textGen(nw: Int) = Gen.listOfN(nw, wordGen).map(_.mkString(" "))

  private def docsDf(texts: Seq[String]) = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  test("ShingleSet == array_sort(array_distinct(HOF shingles))") {
    val s = spark
    import s.implicits._
    // include degenerate docs: 0/1/2 tokens (below n=3), repeats
    val texts = samples(textGen(12), 15) ++
      Seq("", "one", "one two", "a a a a a", "x y z x y z x y z")
    val df = docsDf(texts)
    val got = df.select(col("doc_id"),
        Dedup.shingleSetCol(TextFunctions.tokens(col("text")), 3).as("ss"))
      .as[(Long, Seq[String])].collect().toMap
    val want = df
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("w"))
      .select(col("doc_id"), array_sort(array_distinct(
        TextFunctions.shinglesOfTokens(col("w"), 3))).as("ss"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got == want)
  }

  test("MinHashSig == plain-Scala universal-hash minima, in range") {
    val s = spark
    import s.implicits._
    val mod = 1 << 20
    def polyHash(str: String): Long = {
      var h = 7L
      str.codePoints().forEach(cp => h = (h * 31 + cp) % mod)
      h
    }
    val texts = samples(textGen(20), 10)
    val df = docsDf(texts)
    val sets = Dedup.shingleSets(df, "doc_id", "text", 3)
    val got = sets.select(col("doc_id"),
        Dedup.minhashSigCol(col("sh_set"), 8).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val ref = sets.select(col("doc_id"), col("sh_set"))
      .as[(Long, Seq[String])].collect().toMap
      .map { case (id, set) =>
        id -> (0 until 8).map { k =>
          set.map(sh => (polyHash(sh) * (2 * k + 1) + (97 * k + 31)) % mod).min
        }
      }
    assert(got.keySet == ref.keySet)
    got.foreach { case (id, sig) =>
      assert(sig == ref(id), s"doc $id")
      assert(sig.forall(v => v >= 0 && v < mod))
    }
  }

  test("SimHashSig == composed per-bit majority-vote columns") {
    val s = spark
    import s.implicits._
    val bits = 20
    // degenerate docs ride along: empty text (one "" token, hash =
    // seed) and single-word docs
    val texts = samples(textGen(15), 12) ++ Seq("", "one", "a a a a")
    val df = docsDf(texts)
    val got = Dedup.simhash(df, "doc_id", "text", bits)
      .as[(Long, Long)].collect().toMap
    // the pre-kernel composed form: bits interpreted aggregate passes
    val hashes = df.select(col("doc_id"),
      transform(TextFunctions.tokens(col("text")),
        w => TextFunctions.polyHash(w, 7, bits)).as("hs"))
    val sig = (0 until bits).map { b =>
      val votes = aggregate(col("hs"), lit(0),
        (acc, h) => acc + when(shiftright(h, b) % 2 === 1, 1).otherwise(-1))
      when(votes > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val want = hashes.select(col("doc_id"), sig.as("simhash"))
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("simhash stays inside whole-stage codegen over a pruned scan") {
    val df = Dedup.simhash(
      spark.read.parquet(s"$sf001/documents.parquet"), "doc_id", "text")
    val plan = df.queryExecution.executedPlan.toString
    // the kernel expression must sit in a codegen'd Project directly
    // over the file scan — no interpreted HOF stages, no extra exchange
    assert(plan.contains("simhashsig"), plan)
    assert(plan.linesIterator.exists(l =>
      l.contains("*") && l.contains("Project") && l.contains("simhashsig")),
      s"simhash Project not codegen'd:\n$plan")
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("IntersectCountSorted == size(array_intersect) on sorted sets") {
    val s = spark
    import s.implicits._
    val setGen = Gen.listOfN(12, wordGen)
      .map(_.distinct.sorted)
    val pairs = samples(Gen.zip(setGen, setGen), 25) ++
      Seq((Nil, Nil), (List("a"), Nil), (List("a", "b"), List("a", "b")))
    val df = pairs.toDF("a", "b")
    val rows = df.select(
        call_function(graft.plans.TextExpressions.IntersectCountName,
          col("a"), col("b")).as("mc"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("ai"))
      .as[(Long, Long)].collect()
    rows.foreach { case (mc, ai) => assert(mc == ai) }
  }

  test("pair with raw jaccard below t that ROUNDS to t is kept") {
    val s = spark
    import s.implicits._
    // two docs sharing a 30001-word run: shared shingles = 29999,
    // each doc 45000 distinct shingles -> J = 29999/60001 = 0.4999750...
    // which is < 0.5 raw but round(.,4) = 0.5 — the filters must use
    // tEff < t or this pair is wrongly pruned before verification
    val shared = (0 until 30001).map(i => s"s$i")
    val docA = (shared ++ (0 until 15001).map(i => s"a$i")).mkString(" ")
    val docB = (shared ++ (0 until 15001).map(i => s"b$i")).mkString(" ")
    val df = docsDf(Seq(docA, docB))
    val out = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((0L, 1L, 0.5)))
    spark.catalog.clearCache()
  }

  test("dupClusters finds component minima across chained pairs") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4-5 (diameter 4, forces multiple propagation rounds),
    // separate pair (10, 11), and 7-8-9 star on 7
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (7L, 8L), (7L, 9L)).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 7L -> 7L, 8L -> 7L, 9L -> 7L)
    // driver union-find path (small graph)...
    val local = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(local == want)
    // ...and the distributed min-label loop, forced via threshold 0
    val dist = Dedup.dupClusters(pairs, localEdgeThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist == want)
    spark.catalog.clearCache()
  }

  test("dupClusters density warning fires on similarity-graph input only") {
    // a dedup graph: degree ~2 — silent
    assert(Dedup.densityWarning(nNodes = 1000, nEdges = 2000).isEmpty)
    // the measured sf10 pathology: degree 68 — loud
    val w = Dedup.densityWarning(nNodes = 200000, nEdges = 13600000)
    assert(w.exists(_.contains("similarity graph")))
    // degenerate inputs stay silent
    assert(Dedup.densityWarning(nNodes = 0, nEdges = 0).isEmpty)
  }

  test("dupClusters distributed path fails fast past the density guard; opt-out runs") {
    val s = spark
    import s.implicits._
    // complete graph over 40 nodes: avg degree 39 > the guard's 32.
    // localEdgeThreshold = 0 forces the distributed path (the driver
    // union-find handles dense graphs fine and is never guarded).
    val pairs = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L
    } yield (a, b)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.dupClusters(pairs, localEdgeThreshold = 0L)
    }
    assert(e.getMessage.contains("denseDegreeLimit"), e.getMessage)
    assert(e.getMessage.contains("capDegree"), e.getMessage)
    // explicit opt-out completes and still finds the one component
    val forced = Dedup.dupClusters(pairs, localEdgeThreshold = 0L,
      denseDegreeLimit = Double.PositiveInfinity)
      .as[(Long, Long)].collect().toMap
    assert(forced.size == 40 && forced.values.forall(_ == 0L))
    spark.catalog.clearCache()
  }

  test("capDegree keeps each node's strongest edges and bounds degree") {
    val s = spark
    import s.implicits._
    // node 0 is a hub with 20 neighbors at descending weight; nodes
    // 100/101 are an isolated strong pair
    val hub = (1L to 20L).map(i => (0L, i, 1.0 - i * 0.01))
    val pairs = (hub :+ (100L, 101L, 0.99))
      .toDF("id_a", "id_b", "cos")
    val capped = Dedup.capDegree(pairs, weightCol = "cos", maxDegree = 5)
      .as[(Long, Long, Double)].collect().toSet
    // union semantics: the hub selects only its 5 strongest, but each
    // leaf's own top-5 contains its single hub edge, so EVERY hub edge
    // survives — a star is exactly the shape where union-kNN refuses
    // to disconnect leaves. Output == input here.
    assert(capped == pairs.as[(Long, Long, Double)].collect().toSet)
    assert(capped.contains((100L, 101L, 0.99)))
    // a genuinely dense graph DOES shrink: K12 capped at D=2 must
    // respect the volume bound (every kept edge is charged to at
    // least one endpoint's top-D, so |edges| <= D * |nodes| = 24,
    // down from 66) while keeping every node covered
    val k12 = (for { a <- 0L until 12L; b <- (a + 1) until 12L }
      yield (a, b, 0.5 + (a * 31 + b * 17) % 10 * 0.01))
      .toDF("id_a", "id_b", "cos")
    val c12 = Dedup.capDegree(k12, weightCol = "cos", maxDegree = 2)
      .as[(Long, Long, Double)].collect()
    assert(c12.length <= 24 && c12.length >= 12, s"got ${c12.length}")
    val covered = c12.flatMap(p => Seq(p._1, p._2)).toSet
    assert(covered == (0L until 12L).toSet)
    // capped graph passes the guard end to end on the distributed path
    val cl = Dedup.dupClusters(
      Dedup.capDegree(k12, weightCol = "cos", maxDegree = 2),
      localEdgeThreshold = 0L)
    assert(cl.count() == 12L)
    spark.catalog.clearCache()
  }

  test("shingle->signature stage is shuffle-free (scale invariant)") {
    val df = docsDf(samples(textGen(12), 10))
    val staged = Dedup.shingleSets(df, "doc_id", "text", 3)
      .withColumn("sig", Dedup.minhashSigCol(col("sh_set"), 16))
    val plan = staged.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"per-document signature stage must not shuffle:\n$plan")
  }

  test("postings cap sub-buckets hot shingles without losing pairs") {
    val s = spark
    import s.implicits._
    // every doc shares one universal 6-word run -> its shingles' posting
    // lists cover the whole corpus (the stop-shingle shape the cap
    // guards against); variants differ elsewhere
    val common = (0 until 6).map(i => s"c$i").mkString(" ")
    val texts = (0 until 12).map { i =>
      val tail =
        if (i % 2 == 0) (0 until 10).map(j => s"dup${i / 2}_$j")
        else (0 until 10).map(j => s"dup${i / 2}_$j") // pairwise near-dups
      s"$common ${tail.mkString(" ")} uniq$i"
    }
    val df = docsDf(texts)
    val uncapped = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    s.catalog.clearCache()
    val cappedDf = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.5,
      maxPostings = 3)
    // the candidate join key must carry the salt when the cap engages
    val plan = cappedDf.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt missing from plan:\n$plan")
    val capped = cappedDf.as[(Long, Long, Double)].collect().toSet
    assert(capped == uncapped)
    assert(uncapped.nonEmpty) // the test corpus must actually produce pairs
    s.catalog.clearCache()
  }

  test("prefix-filtered jaccardPairs is exact vs brute force") {
    val s = spark
    import s.implicits._
    // corpus with planted near-duplicates: mutate a base text by
    // swapping a few words so pairs straddle the 0.5 threshold
    val bases = samples(textGen(15), 6)
    val mutGen = Gen.choose(0, 14)
    val texts = bases ++ bases.zipWithIndex.flatMap { case (b, i) =>
      val ws = b.split(" ")
      (0 until 2).map { v =>
        val ks = samples(mutGen, 2 + v + i % 2).distinct
        val mutated = ws.clone()
        ks.foreach(k => mutated(k) = s"mut${i}_$v")
        mutated.mkString(" ")
      }
    }
    val df = docsDf(texts)
    val got = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // brute force in plain Scala
    val sets = texts.map { t =>
      val w = t.trim.split("\\s+")
      (if (w.length < 3) Seq.empty[String]
       else w.sliding(3).map(_.mkString(" ")).toSeq).distinct.toSet
    }
    val want = (for {
      i <- sets.indices; j <- sets.indices if i < j
      si = sets(i); sj = sets(j)
      if si.nonEmpty && sj.nonEmpty
      shared = (si & sj).size
      jac = BigDecimal(shared.toDouble / (si.size + sj.size - shared))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jac >= 0.5
    } yield (i.toLong, j.toLong) -> jac).toMap
    assert(got == want)
    assert(want.nonEmpty, "test corpus must contain near-duplicates")
    spark.catalog.clearCache()
  }

  test("sharedSpanPairs == brute-force distinct k-gram intersection") {
    val s = spark
    import s.implicits._
    // planted verbatim overlap: doc pairs share a run of 8 words
    // (3 distinct 6-grams) while the rest differs; singletons share
    // nothing
    val run = (0 until 8).map(i => s"r$i").mkString(" ")
    val texts = (0 until 4).map(i =>
      s"${(0 until 6).map(j => s"a${i}_$j").mkString(" ")} $run " +
        (0 until 6).map(j => s"z${i}_$j").mkString(" ")) ++
      Seq("lone words with no shared span at all here today",
        "another unrelated document of completely distinct words")
    val df = docsDf(texts)
    def brute(minShared: Long): Set[(Long, Long, Long)] = {
      val grams = texts.map(_.split(" ").toSeq.sliding(6)
        .map(_.mkString(" ")).toSet)
      (for {
        i <- texts.indices; j <- texts.indices if i < j
        shared = (grams(i) intersect grams(j)).size.toLong
        if shared >= minShared
      } yield (i.toLong, j.toLong, shared)).toSet
    }
    val got = Dedup.sharedSpanPairs(df, "doc_id", "text", 6, 2L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute(2L))
    assert(got.nonEmpty)
  }

  test("dupSpanFraction: hand-computed window fractions; internal repeats never mark a doc") {
    val s = spark
    import s.implicits._
    // doc 0: "a b c d e f" — windows (a b c),(b c d),(c d e),(d e f);
    //   (b c d) and (c d e) also occur in doc 1 → 2/4 shared = 5000 bp
    // doc 1: "x b c d e y" — (x b c),(b c d),(c d e),(d e y): 2/4
    // doc 2: "p q r p q r p q" — internal repeats only: (p q r) etc.
    //   occur multiple times WITHIN the doc but in no other doc →
    //   0 shared (the >= 2 DISTINCT docs rule), 6 windows
    // doc 3: "s t" — fewer than k tokens: excluded entirely
    val df = docsDf(Seq(
      "a b c d e f", "x b c d e y", "p q r p q r p q", "s t"))
    val got = Dedup.dupSpanFraction(df, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got === Array(
      (0L, 4L, 2L, 5000L),
      (1L, 4L, 2L, 5000L),
      (2L, 6L, 0L, 0L)), got.mkString(", "))
    // a shared gram repeated internally counts EVERY position: doc 4
    // repeats (m n o) twice and doc 5 has it once → doc 4 marks 2
    val df2 = docsDf(Seq("m n o m n o", "m n o z z z"))
    val g2 = Dedup.dupSpanFraction(df2, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(g2(0) === ((0L, 4L, 2L, 5000L)), g2.mkString(", "))
    assert(g2(1) === ((1L, 4L, 1L, 2500L)), g2.mkString(", "))
  }

  test("sharedSpanPairs postings cap preserves counts exactly") {
    val s = spark
    import s.implicits._
    // one universal 6-gram (posting list = whole corpus) plus pair
    // overlaps — the cap must sub-bucket, not drop, and counts per
    // pair must be unchanged
    val common = (0 until 6).map(i => s"c$i").mkString(" ")
    val texts = (0 until 10).map { i =>
      s"$common ${(0 until 7).map(j => s"p${i / 2}_$j").mkString(" ")} uniq$i"
    }
    val df = docsDf(texts)
    val uncapped = Dedup.sharedSpanPairs(df, "doc_id", "text", 6, 1L)
      .as[(Long, Long, Long)].collect().toSet
    val cappedDf = Dedup.sharedSpanPairs(df, "doc_id", "text", 6, 1L,
      maxPostings = 3)
    assert(cappedDf.queryExecution.executedPlan.toString.contains("__salt"))
    assert(cappedDf.as[(Long, Long, Long)].collect().toSet == uncapped)
    assert(uncapped.nonEmpty)
  }

  test("incremental dedup equals the cross-side slice of full-corpus pairs") {
    val s = spark
    import s.implicits._
    val docs = graft.sources.Tables.load(s, sf001, "documents")
    val newSide = docs.filter(pmod($"doc_id", lit(10)) === 0)
    val exSide = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val incr = graft.operators.Dedup.minhashLshPairsAgainst(
        newSide, exSide, "doc_id", "text", 3, 16, 4, 0.5)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }.toSet
    val full = graft.operators.Dedup.minhashLshPairs(
        docs, "doc_id", "text", 3, 16, 4, 0.5)
      .as[(Long, Long, Double)].collect()
    val crossSlice = full.filter { case (a, b, _) =>
      (a % 10 == 0) != (b % 10 == 0)
    }.map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }.toSet
    assert(incr == crossSlice)
    assert(incr.nonEmpty)
  }

  test("prebuilt minhash index: two batches against one index, no rebuild") {
    val s = spark
    import s.implicits._
    val docs = graft.sources.Tables.load(s, sf001, "documents")
    val corpus = docs.filter(pmod($"doc_id", lit(10)) >= 2)
    // the production shape: build + persist ONCE, feed every batch
    val idx = graft.operators.Dedup.minhashIndex(
      corpus, "doc_id", "text", 3, 16, 4)
    idx.signed.persist()
    def viaIndex(batch: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.minhashLshPairsAgainstIndex(batch, idx, 0.5)
        .as[(Long, Long, Double)].collect().toSet
    def direct(batch: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.minhashLshPairsAgainst(
          batch, corpus, "doc_id", "text", 3, 16, 4, 0.5)
        .as[(Long, Long, Double)].collect().toSet
    val batch0 = docs.filter(pmod($"doc_id", lit(10)) === 0)
    val batch1 = docs.filter(pmod($"doc_id", lit(10)) === 1)
    assert(viaIndex(batch0) == direct(batch0))
    assert(viaIndex(batch1) == direct(batch1))
    assert(viaIndex(batch0).nonEmpty)

    // cross-session form: the parquet round-trip must not change a
    // pair (float-free schema — ids, shingle hashes, sizes, sig longs)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_minhash_spec").toString
    graft.operators.Dedup.writeMinhashIndex(idx, dir)
    val reloaded = graft.operators.Dedup.readMinhashIndex(
      s, dir, "doc_id", "text", 3, 16, 4)
    val viaStored = graft.operators.Dedup
      .minhashLshPairsAgainstIndex(batch0, reloaded, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaStored == viaIndex(batch0))

    // ingest append: sign the batch with the SAME params, append only
    // its rows; the grown index pairs a later batch against old+new
    graft.operators.Dedup.minhashIngestBatch(batch0, dir, "doc_id",
      "text", graft.store.Store.freshTag())
    val grown = graft.operators.Dedup.readMinhashIndex(
      s, dir, "doc_id", "text", 3, 16, 4)
    assert(grown.signed.count() == corpus.count() + batch0.count())
    val vsGrown = graft.operators.Dedup
      .minhashLshPairsAgainstIndex(batch1, grown, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val vsUnion = graft.operators.Dedup.minhashLshPairsAgainst(
        batch1, corpus.unionByName(batch0), "doc_id", "text",
        3, 16, 4, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(vsGrown == vsUnion)

    // write-back-to-source-dir round-trip (stage+swap): reload, then
    // write the reloaded index to the dir its frames lazily read
    graft.operators.Dedup.writeMinhashIndex(grown, dir)
    assert(graft.operators.Dedup.readMinhashIndex(
      s, dir, "doc_id", "text", 3, 16, 4).signed.count() ==
      corpus.count() + batch0.count())
    s.catalog.clearCache()
  }

  test("token rarity matches hand-computed df/hapax signals") {
    val s = spark
    import s.implicits._
    // df: a in 2 docs, b/c/d in 1; single final floor of
    // sum(df)*10000 / (ndocs * n_tok), ndocs = 3
    val df = docsDf(Seq("a b a", "a c", "d"))
    val got = graft.operators.TextProfile.tokenRarity(df, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc0: occurrences a,b,a -> (2+1+2)*10000 DIV (3*3) = 5555, hapax {b}
    assert(got(0L) == ((0L, 3L, 5555L, 1L)))
    // doc1: a,c -> 3*10000 DIV (3*2) = 5000, hapax {c}
    assert(got(1L) == ((1L, 2L, 5000L, 1L)))
    // doc2: d -> 10000 DIV 3 = 3333, hapax {d}
    assert(got(2L) == ((2L, 1L, 3333L, 1L)))
  }

  test("repetition profile matches hand-computed signals") {
    val s = spark
    import s.implicits._
    val df = docsDf(Seq(
      "a b a b a", // bigrams: ab,ba,ab,ba -> top 2, dup occ 4, n 4
      "x y z", // bigrams xy,yz -> all unique
      "solo")) // 1 token: dropped (no bigrams)
    val got = graft.operators.TextProfile.repetition(df, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(0L, 1L))
    // doc 0: 5 tokens, 2 distinct -> ttr 4000; 4 bigrams, top 2 ->
    // top2 5000; all 4 occurrences duplicated -> dup2 10000
    assert(got(0L) == ((0L, 5L, 2L, 4000L, 4L, 2L, 5000L, 10000L)))
    // doc 1: 3 tokens distinct -> ttr 10000; 2 unique bigrams ->
    // top2 5000, dup2 0
    assert(got(1L) == ((1L, 3L, 3L, 10000L, 2L, 1L, 5000L, 0L)))
  }

  test("topTerms: window-equivalent ranking on bounded-heap, no Window node") {
    val s = spark
    import s.implicits._
    val docs = graft.sources.Tables.load(s, sf001, "documents")
    val got = graft.operators.TextProfile
      .topTerms(docs, "doc_id", "text", k = 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id")
      .orderBy($"tf".desc, $"df".asc, $"term".asc)
    val tf = docs.select($"doc_id",
        org.apache.spark.sql.functions.explode(
          graft.functions.TextFunctions.tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val want = tf.join(dfreq, "term")
      .select($"doc_id", row_number().over(w).cast("long").as("rank"),
        $"term", $"tf", $"df")
      .filter($"rank" <= 5)
    assert(got.as[(Long, Long, String, Long, Long)].collect().toSet ==
      want.as[(Long, Long, String, Long, Long)].collect().toSet)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("bm25: profile-fed scoring is bit-identical; ranking and cut behave") {
    val s = spark
    import s.implicits._
    val docs = graft.sources.Tables.load(s, sf001, "documents")
    val queries = docs.filter($"doc_id" % 50 === 0)
      .select($"doc_id".as("q_id"), concat_ws(" ",
        slice(graft.functions.TextFunctions.tokens($"text"), 1, 6))
        .as("qtext"))
    val fresh = graft.operators.TextProfile.bm25TopK(docs, "doc_id",
      "text", queries, "q_id", "qtext", k = 5, stopwordCut = false)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(fresh.nonEmpty)
    // ranking invariants per query: ranks are 1..5, scores
    // non-increasing in rank with the doc-id ascending tie-break
    // (NOT self-retrieval-at-1 — on this corpus's ~31-word universal
    // vocabulary every idf is 1 and length normalization legitimately
    // favors short docs over the query's own source document)
    fresh.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.toSeq.sortBy(_._2)
      assert(byRank.map(_._2) == (1L to byRank.size).toSeq, s"q=$q")
      byRank.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3),
            s"q=$q order violated: $a then $b")
        case _ => ()
      }
      assert(rows.forall(_._4 > 0), s"q=$q non-positive score")
    }
    // the amortized form: df / N / avgdl from a CorpusProfile store
    // must not change a single bit (same contract as
    // tokenRarityWithProfile)
    val prof = graft.operators.CorpusProfile.build(docs, "doc_id",
      "lang", "text")
    val viaProfile = graft.operators.TextProfile.bm25TopKWithProfile(
      docs, "doc_id", "text", queries, "q_id", "qtext", prof, k = 5,
      stopwordCut = false)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaProfile == fresh)
    // the production stopword cut: on a corpus with a genuinely rare
    // term and a universal one, the universal term stops
    // contributing — the rare-term doc outranks a doc with more
    // total matches once the common term is cut
    val tiny = Seq(
      (1L, "the the the rare"),
      (2L, "the the the the the the"),
      (3L, "the common words here"),
      (4L, "the of it and")).toDF("doc_id", "text")
    val q1 = Seq((100L, "the rare")).toDF("q_id", "qtext")
    val cut = graft.operators.TextProfile.bm25TopK(tiny, "doc_id",
      "text", q1, "q_id", "qtext", k = 4)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._2)
    // "the" (df=4=N) is cut; only "rare" (df=1) scores → doc 1 alone
    assert(cut.map(_._3) == Seq(1L), cut.toString)
    // the bounded-heap plan, not a window
    val plan = graft.operators.TextProfile.bm25TopK(docs, "doc_id",
      "text", queries, "q_id", "qtext", k = 5, stopwordCut = false)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("bm25 index: stored round-trip bit-identical; append parity; In pushdown") {
    val s = spark
    import s.implicits._
    val docs = graft.sources.Tables.load(s, sf001, "documents")
    val queries = docs.filter($"doc_id" % 50 === 0)
      .select($"doc_id".as("q_id"), concat_ws(" ",
        slice(graft.functions.TextFunctions.tokens($"text"), 1, 6))
        .as("qtext"))
    val fresh = graft.operators.TextProfile.bm25TopK(docs, "doc_id",
      "text", queries, "q_id", "qtext", k = 5, stopwordCut = false)
      .as[(Long, Long, Long, Long)].collect().toSet

    // build → store → reload → probe: the persistence loop may not
    // change a single bit (the q_ann_ivfpq_index discipline)
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25")
      .toString + "/idx"
    graft.operators.TextProfile.bm25Index(docs, "doc_id", "text")
      .write(dir)
    val idx = graft.operators.TextProfile.readBm25Index(s, dir, "doc_id")
    assert(idx.nDocs == docs.count())
    val stored = graft.operators.TextProfile.bm25TopKWithIndex(
      queries, "q_id", "qtext", idx, k = 5, stopwordCut = false)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(stored == fresh)

    // O(batch) ingest: half1 build + half2 append == full build,
    // through the re-read stored state
    val dir2 = java.nio.file.Files.createTempDirectory("graft-bm25")
      .toString + "/idx"
    graft.operators.TextProfile.bm25Index(
      docs.filter($"doc_id" % 2 === 0), "doc_id", "text").write(dir2)
    graft.operators.TextProfile.bm25IngestBatch(
      docs.filter($"doc_id" % 2 === 1), "text", dir2,
      graft.store.Store.freshTag())
    val reread = graft.operators.TextProfile.readBm25Index(s, dir2,
      "doc_id")
    assert(reread.nDocs == docs.count() &&
      reread.totTokens == idx.totTokens)
    val viaStored = graft.operators.TextProfile.bm25TopKWithIndex(
      queries, "q_id", "qtext", reread, k = 5, stopwordCut = false)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaStored == fresh)

    // the documented maintenance loop closes: bm25IndexCompact
    // rewrites the append-accumulated postings TERM-SORTED (the
    // property the In-pushdown file pruning needs — review round 2
    // caught that generic Layout.compact cannot provide it for a
    // string key) and collapses the df partials, without changing a
    // single probed bit
    graft.operators.TextProfile.bm25IndexCompact(s, dir2)
    val compacted = graft.operators.TextProfile.readBm25Index(s, dir2,
      "doc_id")
    val viaCompacted = graft.operators.TextProfile.bm25TopKWithIndex(
      queries, "q_id", "qtext", compacted, k = 5, stopwordCut = false)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaCompacted == fresh)
    // df partials collapsed to one row per term
    assert(s.read.parquet(s"$dir2/df.parquet")
      .groupBy("term").count().filter($"count" > 1).count() == 0)

    // the few-term lookup arm: a literal In predicate reaches the
    // parquet scan (PushedFilters) — with the term-sorted layout
    // that is file/row-group pruning, not just a post-read filter
    val q1 = Seq((1L, "the spark")).toDF("q_id", "qtext")
    val probe = graft.operators.TextProfile.bm25TopKWithIndex(
      q1, "q_id", "qtext", idx, k = 3, stopwordCut = false)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s+", " ").matches(".*PushedFilters: \\[[^]]*In\\(term.*"),
      plan.take(2000))
    assert(probe.count() > 0)
  }

  test("length quantiles: exact interpolation, approx within tolerance") {
    val s = spark
    import s.implicits._
    // one stratum, token counts 1..5 -> p50 = 3, p25 = 2 (interp at
    // rank (5-1)*0.25 = 1 exactly), p90 = 4.6 (rank 3.6)
    val df = Seq("a", "a b", "a b c", "a b c d", "a b c d e")
      .map(t => ("x", t)).toDF("lang", "text")
    val got = graft.operators.TextProfile.lengthQuantiles(df, "lang", "text")
      .as[(String, Long, Long, Long, Double, Double, Double, Double)]
      .collect()
    assert(got.toSeq == Seq(("x", 5L, 1L, 5L, 2.0, 3.0, 4.0, 4.6)))
    // the approx path (the unbounded-cardinality scale path) stays
    // within a rank of the exact answer on this tiny input
    val approx = graft.operators.TextProfile
      .lengthQuantiles(df, "lang", "text", exact = false)
      .as[(String, Long, Long, Long, Double, Double, Double, Double)]
      .collect().head
    assert(math.abs(approx._6 - 3.0) <= 1.0)
  }

  test("gopherRules: each rule bit fires on exactly its planted violation; clean doc keeps") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // clean: 5 words in [4, 100], mean len 3.4 in [3, 10], no
      // symbols, all alphabetic, stopwords {the, a} distinct >= 2
      (1L, "the a quick brown foxes"),
      // bit 0: word count 2 < minWords 4 (mean len 3 stays in range,
      // still 2 distinct stopwords)
      (2L, "the and"),
      // bit 1: mean word length 2.6 < 3 (words of len 1-3; has the+a)
      (3L, "the a bb cc d"),
      // bit 1 high side: mean length > 10
      (4L, "the a abcdefghijklmnopqrstuvwxyz abcdefghijklmnopqrstuvwxyz abcdefghijklmnopqrstuvwxyz"),
      // bit 2: 1 '#' over 5 words = 0.2 > 0.1 (lengths keep mean >= 3)
      (5L, "the a cats# dogs bird"),
      // bit 3: 2 of 5 words alphabetic = 40% < 80%
      (6L, "the 123 456 789 000"),
      // bit 4: zero stopwords
      (7L, "quick brown foxes jump high"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextProfile
      .gopherRules(docs, "doc_id", "text", minWords = 4L,
        maxWords = 100L)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == (5L, 0L, true), got(1L).toString)
    assert(got(2L) == (2L, 1L, false), got(2L).toString)
    assert(got(3L) == (5L, 2L, false), got(3L).toString)
    assert(got(4L) == (5L, 2L, false), got(4L).toString)
    assert(got(5L) == (5L, 4L, false), got(5L).toString)
    // doc 6: only "the" is alphabetic+stopword; 1 distinct stopword
    // ALSO fires bit 4, and mean len (3+3*4+3)/5 = 3 is in range
    assert(got(6L) == (5L, 8L + 16L, false), got(6L).toString)
    assert(got(7L) == (5L, 16L, false), got(7L).toString)
  }

  test("gopherRules: null text ≡ empty text — both reject via the word-count rule, never n_words = -1") {
    val s = spark
    import s.implicits._
    // null text coalesces to '' pre-tokenize: split('') is one empty
    // token, so n_words = 1 (< minWords → bit 0), sumlen 0 (bit 1),
    // zero alphabetic (bit 3), zero stopwords (bit 4) — identical to
    // a genuinely empty document, and identical in the SQL oracle
    // (whose NULL propagation would otherwise zero every CASE arm
    // and KEEP the null doc)
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""),
      (3L, "the a quick brown foxes")).toDF("doc_id", "text")
    val got = graft.operators.TextProfile
      .gopherRules(docs, "doc_id", "text", minWords = 4L,
        maxWords = 100L)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == got(2L),
      s"null diverged from empty: ${got(1L)} vs ${got(2L)}")
    assert(got(1L) == (1L, 1L + 2L + 8L + 16L, false), got(1L).toString)
    assert(got(3L) == (5L, 0L, true), got(3L).toString)
  }
}
