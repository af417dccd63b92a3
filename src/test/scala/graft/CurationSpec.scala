package graft

import org.apache.spark.sql.functions._

import graft.operators.Curation
import graft.sources.Tables

/** Curation operators: correctness on real tables plus the plan-shape
  * guarantees the 100 TB story rests on (broadcast decontamination,
  * bounded-heap caps, shuffle-free sampling). */
class CurationSpec extends SparkSpec {

  test("decontaminate: broadcast bench side, self-decontamination is total") {
    val s = spark
    val docs = Tables.load(s, sf001, "documents")
    // a corpus decontaminated against itself: every doc with >= 1
    // 4-gram is contaminated (it shares all its grams with itself)
    val self = Curation.decontaminate(docs, docs, "doc_id", "text", n = 4)
    val withGrams = docs
      .filter(size(split(trim(col("text")), "\\s+")) >= 4).count()
    assert(self.count() == withGrams)

    val plan = self.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("decontaminate: hit counts are distinct shared grams") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, "a b c d e"), (2L, "x y z w q"))
      .toDF("doc_id", "text")
    val bench = Seq((9L, "a b c d e f")).toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, bench, "doc_id", "text", n = 4)
      .as[(Long, Long)].collect().toMap
    // doc 1 shares "a b c d" and "b c d e"; doc 2 shares nothing
    assert(out == Map(1L -> 2L))
  }

  test("decontaminateBloom: no false negatives, join-free probe plan") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(s, sf001, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "src0")
    val exact = Curation.decontaminate(corpus, bench, "doc_id", "text", 4)
      .as[(Long, Long)].collect().toMap
    val bloom = Curation
      .decontaminateBloom(corpus, bench, "doc_id", "text", 4, fpp = 0.01)
      .as[(Long, Long)].collect().toMap
    // superset, and every exact hit count is fully preserved (bloom
    // can only ADD probable hits, never drop a true gram match)
    exact.foreach { case (id, hits) =>
      assert(bloom.getOrElse(id, 0L) >= hits, s"doc $id lost hits")
    }
    // false-positive mass is gram-level: extra hits across the corpus
    // stay within a small multiple of fpp × probes (docs average ~80
    // grams, so DOC-level inflation is expectedly large at 1% fpp —
    // the operator is a pre-filter whose survivors get the exact pass)
    val probes = corpus
      .select(explode(array_distinct(
        graft.functions.TextFunctions.wordShingles(col("text"), 4))))
      .count()
    val extraHits = bloom.values.sum - exact.values.sum
    assert(extraHits <= (3 * 0.01 * probes).toLong + 10,
      s"extra $extraHits vs probes $probes")
    // the probe is a narrow Filter: no join or broadcast anywhere
    val plan = Curation
      .decontaminateBloom(corpus, bench, "doc_id", "text", 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("graft_bloom_contains"), plan)
  }

  test("decontaminateExactViaBloom: identical to exact, filter precedes join") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(s, sf001, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "src0")
    val exact = Curation.decontaminate(corpus, bench, "doc_id", "text", 4)
      .as[(Long, Long)].collect().toMap
    val twoPhase = Curation
      .decontaminateExactViaBloom(corpus, bench, "doc_id", "text", 4,
        fpp = 0.01)
      .as[(Long, Long)].collect().toMap
    assert(twoPhase == exact, "two-phase bloom+exact must be bit-identical")
    // plan shape: the bloom probe must sit BELOW the broadcast join,
    // so the join's stream side is the fpp-sized survivor set
    val plan = Curation
      .decontaminateExactViaBloom(corpus, bench, "doc_id", "text", 4)
      .queryExecution.executedPlan.toString
    val probeAt = plan.indexOf("graft_bloom_contains")
    val joinAt = plan.indexOf("BroadcastHashJoin")
    assert(probeAt >= 0 && joinAt >= 0, plan)
    assert(probeAt > joinAt, // deeper in the tree prints LATER lines
      s"bloom probe must be under the join (probe@$probeAt join@$joinAt)")
  }

  test("mixDomains: whitelist, clamped strata keep all, deterministic") {
    val s = spark
    val docs = Tables.load(s, sf001, "documents")
    val budget = docs.filter(col("lang").isin("en", "de"))
      .agg(sum(graft.functions.TextFunctions.bpeTokenCount(col("text"))))
      .head.getLong(0)
    // de's weight share of the budget exceeds its own token mass
    // (whole corpus's tokens * 0.9 vs one stratum) -> rate clamps to
    // 1.0 and the stratum survives complete; en is thinned; every
    // other lang is dropped (mixtures are whitelists)
    val out = Curation.mixDomains(docs, "lang", "text",
      weights = Map("en" -> 0.1, "de" -> 0.9),
      totalTokens = budget, seedCols = Seq("doc_id", "text"))
    val langs = out.select("lang").distinct()
      .collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "de")), s"unlisted langs leaked: $langs")
    val deAll = docs.filter(col("lang") === "de").count()
    assert(out.filter(col("lang") === "de").count() == deAll,
      "clamped stratum must keep every row")
    val enKept = out.filter(col("lang") === "en").count()
    val enAll = docs.filter(col("lang") === "en").count()
    assert(enKept > 0 && enKept < enAll,
      s"en should be thinned, kept $enKept of $enAll")
    // reproducible: the same call selects the same rows
    val again = Curation.mixDomains(docs, "lang", "text",
      weights = Map("en" -> 0.1, "de" -> 0.9),
      totalTokens = budget, seedCols = Seq("doc_id", "text"))
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      again.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("qualityBuckets: monotone in score, full range, no window sort") {
    val s = spark
    val docs = Tables.load(s, sf001, "documents")
    val out = Curation.qualityBuckets(docs, "doc_id", "text", "lang",
      nBuckets = 4)
    val rows = out.select("lang", "score", "bucket").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(rows.forall { case (_, _, b) => b >= 1 && b <= 4 })
    // monotone: within a stratum, a higher score never gets a lower
    // bucket
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val byScore = rs.sortBy(_._2)
      byScore.sliding(2).foreach {
        case Array((_, s1, b1), (_, s2, b2)) =>
          assert(b1 <= b2 || s1 == s2, s"$lang: $s1->$b1 vs $s2->$b2")
        case _ =>
      }
      // quantile thresholds spread the stratum across the range
      assert(rs.map(_._3).distinct.size >= 2, s"$lang collapsed buckets")
    }
    // the scale contract: bucket assignment must not be an ntile
    // window (stratum-wide single-task sort)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("trainOrder: dense per-shard ranks, deterministic permutation") {
    val s = spark
    val docs = Tables.load(s, sf001, "documents")
    val out = Curation.trainOrder(docs, "doc_id",
      Seq("doc_id", "text"), numShards = 4)
    val rows = out.collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pos"),
        r.getAs[Long]("doc_id")))
    // every doc appears exactly once; pos is dense 1..n within a shard
    assert(rows.map(_._3).distinct.length == rows.length)
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      val ps = rs.map(_._2).sorted
      assert(ps.toSeq == (1L to rs.length).toSeq, s"shard $shard holes")
    }
    // the order is content-derived: a rerun reproduces it bit-for-bit
    // even from a different input partitioning
    val again = Curation.trainOrder(docs.repartition(7), "doc_id",
      Seq("doc_id", "text"), numShards = 4)
      .collect().map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pos"),
        r.getAs[Long]("doc_id"))).toSet
    assert(again == rows.toSet)
  }

  test("sampleExactK: exact stratum quota, window-equivalent, deterministic") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(s, sf001, "documents")
    val got = Curation.sampleExactK(docs, "lang", "doc_id", k = 20,
      seedCols = Seq("doc_id", "text"))
    val rows = got.as[(String, Long)].collect()
    // every stratum at its quota (all sf0.01 langs have >= 20 docs)
    rows.groupBy(_._1).foreach { case (lang, g) =>
      assert(g.length == 20, s"$lang quota ${g.length}")
    }
    // identical to the window form: top-20 by hash desc per lang
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang")
      .orderBy(md5(concat_ws(":", $"doc_id".cast("string"), $"text")).desc)
    val want = docs.select($"lang", $"doc_id",
        row_number().over(w).as("rn"))
      .filter($"rn" <= 20).select($"lang", $"doc_id")
      .as[(String, Long)].collect().toSet
    assert(rows.toSet == want)
  }

  test("sampleStratified: deterministic, rate-bounded, shuffle-free") {
    val s = spark
    val docs = Tables.load(s, sf001, "documents")
    val sampled = Curation.sampleStratified(docs, "lang",
      Map("en" -> 0.25), defaultRate = 1.0, seedCols = Seq("doc_id", "text"))
    // reruns agree row-for-row (hash-based, not rand()-based)
    val ids1 = sampled.select("doc_id").collect().map(_.getLong(0)).sorted
    val ids2 = sampled.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids1.sameElements(ids2))
    // non-en strata pass through untouched; en lands near 25%
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    total.foreach { case (lang, n) =>
      if (lang == "en") {
        val rate = kept.getOrElse("en", 0L).toDouble / n
        assert(rate > 0.10 && rate < 0.40, s"en rate $rate")
      } else assert(kept.getOrElse(lang, 0L) == n, lang)
    }
    // narrow plan: no exchange anywhere
    assert(!sampled.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("capPerGroup: matches window semantics, runs as ObjectHashAggregate") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(s, sf001, "documents")
    val capped = Curation.capPerGroup(docs, "source", "doc_id", k = 10)
    val got = capped.as[(String, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
    val want = docs.select($"source", $"doc_id",
        row_number().over(w).as("rn"))
      .filter($"rn" <= 10).select($"source", $"doc_id")
      .as[(String, Long)].collect().toSet
    assert(got == want)
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("packSequences: bins respect budget, shards pack independently") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(s, sf001, "documents")
    val packed = Curation.packSequences(docs, "doc_id", "text", "lang",
      budget = 256, numShards = 8)
    val rows = packed
      .select($"lang", $"shard", $"seq_id", $"n_tok", $"doc_id")
      .as[(String, Long, Long, Long, Long)].collect()
    // a doc STARTS in its bin: preceding cumsum within (lang, shard)
    // < (seq_id+1)*budget, and bins are monotone in doc_id order
    rows.groupBy(r => (r._1, r._2)).foreach { case (_, grp) =>
      val sorted = grp.sortBy(_._5)
      var cum = 0L
      var lastSeq = -1L
      sorted.foreach { case (_, _, seq, n, _) =>
        assert(seq == cum / 256, s"seq $seq vs cum $cum")
        assert(seq >= lastSeq)
        lastSeq = seq
        cum += n
      }
    }
    // every shard in [0, 8)
    assert(rows.forall(r => r._2 >= 0 && r._2 < 8))
  }

  test("survivors: canonical members kept, non-canonical dropped, disjoint union") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(s, sf001, "documents")
    val clusters = graft.operators.Dedup.dupClusters(
      graft.operators.Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, numHashes = 16, rowsPerBand = 4, threshold = 0.5))
    val surv = Curation.survivors(docs.select("doc_id"), "doc_id", clusters)
      .as[Long].collect().toSet
    val cl = clusters.as[(Long, Long)].collect()
    val dropped = cl.filter { case (d, c) => d != c }.map(_._1).toSet
    val all = docs.select("doc_id").as[Long].collect().toSet
    assert(surv == all -- dropped)
    assert(cl.filter { case (d, c) => d == c }.map(_._1).toSet.subsetOf(surv))
  }

  test("maskPii: emails/IPs/phones masked, progressive counts, no shuffle") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "contact bob.smith+x@corp.example.org or 10.0.255.3 now"),
      (2L, "call +1-555-123-4567 or 555 123 4567 today"),
      (3L, "no pii here at all"),
      (4L, "two mails: a@b.io c.d@e-f.co and date 2021-10-15")
    ).toDF("doc_id", "text")
    val out = Curation.maskPii(docs, "doc_id", "text")
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._2 == "contact <EMAIL> or <IP> now")
    assert((out(1L)._3, out(1L)._4, out(1L)._5) == (1L, 1L, 0L))
    assert(out(2L)._2 == "call <PHONE> or <PHONE> today")
    assert((out(2L)._3, out(2L)._4, out(2L)._5) == (0L, 0L, 2L))
    assert(out(3L)._2 == "no pii here at all")
    assert((out(3L)._3, out(3L)._4, out(3L)._5) == (0L, 0L, 0L))
    // dates must NOT phone-match; both email forms must
    assert(out(4L)._2 == "two mails: <EMAIL> <EMAIL> and date 2021-10-15")
    assert((out(4L)._3, out(4L)._4, out(4L)._5) == (2L, 0L, 0L))
    val plan = Curation.maskPii(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("maskPii: dotted IP masks as IP only — n_phone counts the masked text") {
    val s = spark
    import s.implicits._
    // 192.168.100.200 matches BOTH the IP pattern and (as a prefix,
    // 192.168.100) the phone pattern. The IP pass runs first, so the
    // phone pass sees <IP> and n_phone must be 0 — counts follow the
    // progressively-masked text, i.e. they count what each pass
    // actually replaces.
    val docs = Seq(
      (1L, "server at 192.168.100.200 is down"),
      (2L, "ip 10.11.12.13 then phone 555-123-4567")
    ).toDF("doc_id", "text")
    val out = Curation.maskPii(docs, "doc_id", "text")
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._2 == "server at <IP> is down")
    assert((out(1L)._3, out(1L)._4, out(1L)._5) == (0L, 1L, 0L))
    assert(out(2L)._2 == "ip <IP> then phone <PHONE>")
    assert((out(2L)._3, out(2L)._4, out(2L)._5) == (0L, 1L, 1L))
  }

  test("trainOrder/packSequences: negative ids fail fast, not silently diverge") {
    val s = spark
    import s.implicits._
    // pmod(-3, 8) = 5 but SQL's -3 % 8 = -3: a negative id would put
    // Spark and any oracle engine in different shards SILENTLY. The
    // shard expression raises instead.
    val docs = Seq((-3L, "en", "a b c"), (4L, "en", "d e"))
      .toDF("doc_id", "lang", "text")
    def chainMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val e1 = intercept[Exception] {
      Curation.trainOrder(docs, "doc_id", Seq("doc_id", "text"),
        numShards = 8).collect()
    }
    assert(chainMsg(e1).contains("negative id"), chainMsg(e1))
    val e2 = intercept[Exception] {
      Curation.packSequences(docs, "doc_id", "text", "lang",
        budget = 64, numShards = 8).collect()
    }
    assert(chainMsg(e2).contains("negative id"), chainMsg(e2))
    // non-negative ids unaffected
    assert(Curation.trainOrder(docs.filter($"doc_id" >= 0), "doc_id",
      Seq("doc_id", "text"), numShards = 8).count() == 1L)
  }

  test("bench bloom persists: byte-exact round trip, gram-width mismatch fails fast") {
    val s = spark
    val docs = Tables.load(s, sf001, "documents")
    val bench = docs.filter(col("source") === "src0")
    val bloom = Curation.benchGramBloom(bench, "doc_id", "text",
      n = 4, fpp = 0.01)
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom")
      .toString + "/b"
    Curation.writeBenchBloom(s, dir, bloom, n = 4, fpp = 0.01)
    assert(java.util.Arrays.equals(
      Curation.readBenchBloom(s, dir, n = 4), bloom))
    val e = intercept[IllegalArgumentException] {
      Curation.readBenchBloom(s, dir, n = 3)
    }
    assert(e.getMessage.contains("gram"))
  }

  test("assignSplits: disjoint+total, content-keyed (stable under growth), no shuffle") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(s, sf001, "documents")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Curation.assignSplits(docs, Seq("doc_id", "text"), splits)
    // total: every row gets exactly one split; ratios in the ballpark
    val counts = out.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.sum == docs.count())
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    // content-keyed: the assignment of the first 100 docs is identical
    // whether or not the rest of the corpus exists
    val subset = Curation.assignSplits(docs.filter($"doc_id" < 100),
        Seq("doc_id", "text"), splits)
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    val fromFull = out.filter($"doc_id" < 100)
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    assert(subset == fromFull)
    // pure narrow
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // invalid weights fail fast
    intercept[IllegalArgumentException] {
      Curation.assignSplits(docs, Seq("doc_id"), Seq("a" -> 0.5))
    }
  }

  test("chunkSequences: half-open spans tile the doc, last chunk ragged, no shuffle") {
    val s = spark
    import s.implicits._
    // all-alpha words: each is ONE bpe token (digits would split)
    def words(n: Int) = Seq.fill(n)("xx").mkString(" ")
    val docs = Seq((1L, words(130)), (2L, words(64)), (3L, words(1)))
      .toDF("doc_id", "text")
    val out = Curation.chunkSequences(docs, "doc_id", "text", budget = 64)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 130L, 0L, 0L, 64L), (1L, 130L, 1L, 64L, 128L),
      (1L, 130L, 2L, 128L, 130L),
      (2L, 64L, 0L, 0L, 64L),
      (3L, 1L, 0L, 0L, 1L)))
    val plan = Curation.chunkSequences(docs, "doc_id", "text", 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("decontaminateFuzzy: per-doc match count and strength, exact identity at 1.0") {
    val s = spark
    import s.implicits._
    // two benchmark docs; corpus doc 10 is a verbatim copy of bench 1
    // (J = 1.0 against it) and shares most shingles with bench 2;
    // corpus doc 11 is unrelated
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val out = Curation.decontaminateFuzzy(corpus, bench, "doc_id",
        "text", n = 3, numHashes = 16, rowsPerBand = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .map { case (id, m, j) => id -> ((m, j)) }.toMap
    // doc 10: 6 shingles each side; vs bench1 all 6 shared (J=1.0);
    // vs bench2 5 shared of 7 union (J=0.7143)
    assert(out.keySet == Set(10L))
    assert(out(10L)._1 == 2L)
    assert(out(10L)._2 == 1.0)
  }

  test("survivorsBest: best score wins its cluster, ties to smallest id, no window") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.9), // cluster A: 2 and 3 tie, 2 wins
      (4L, 0.5), (5L, 0.8),            // cluster B: 5 wins
      (6L, 0.1)                        // unclustered: kept
    ).toDF("doc_id", "score")
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L)
    ).toDF("doc_id", "cluster_id")
    val out = Curation.survivorsBest(docs, "doc_id", "score", clusters)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(2L, 5L, 6L))
    // repo convention: per-cluster argmax on the bounded-heap
    // aggregate, never a row_number window sort
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("sampleWeighted: quota, weight bias, non-positive exclusion, partition determinism") {
    val s = spark
    import s.implicits._
    // 100 light rows (w=1) + 100 heavy rows (w=10000), one stratum
    val df = (0L until 200L)
      .map(i => (i, "g", if (i < 100) 1L else 10000L))
      .toDF("id", "g", "w")
    val got = Curation.sampleWeighted(df, "g", "id", "w", k = 20,
      seedCols = Seq("id")).as[(String, Long)].collect().map(_._2)
    assert(got.length == 20)
    // DLT priority = u DIV w: a 10^4 weight divides the 48-bit uniform
    // 10^4 deeper, so heavy rows should dominate the smallest-priority
    // set (deterministic given the fixed ids — not a flaky sample)
    val heavy = got.count(_ >= 100L)
    assert(heavy >= 15, s"only $heavy/20 heavy rows sampled")

    // non-positive weights never sampled; quota = min(k, eligible)
    val withZero = (0L until 5L).map(i => (i, "g", if (i < 2) 0L else 3L))
      .toDF("id", "g", "w")
    val z = Curation.sampleWeighted(withZero, "g", "id", "w", k = 10,
      seedCols = Seq("id")).as[(String, Long)].collect().map(_._2).sorted
    assert(z.toSeq == Seq(2L, 3L, 4L), z.mkString(", "))

    // partition-layout independence (the determinism contract)
    val re = Curation.sampleWeighted(df.repartition(13), "g", "id", "w",
      k = 20, seedCols = Seq("id")).as[(String, Long)].collect()
      .map(_._2).sorted
    assert(re.toSeq == got.sorted.toSeq, "sample changed with layout")
  }

  test("sampleWeighted: decimal guard and weightScaledMilli fixed-point path") {
    val s = spark
    import s.implicits._
    val frac = (0L until 50L)
      .map(i => (i, "g", if (i < 25) 0.1 else 100.0)).toDF("id", "g", "w")
    // fractional weights fail fast, and the message points at the helper
    val e = intercept[IllegalArgumentException] {
      Curation.sampleWeighted(frac, "g", "id", "w", k = 5, Seq("id"))
    }
    assert(e.getMessage.contains("weightScaledMilli"), e.getMessage)
    // Long-overflowing decimal(38,0) rejected: its cast("long") yields
    // null (non-ANSI) and the >= 1 filter would drop rows silently
    val wide = frac.withColumn("w",
      col("w").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
    intercept[IllegalArgumentException] {
      Curation.sampleWeighted(wide, "g", "id", "w", k = 5, Seq("id"))
    }
    // scale-0 decimal within Long range still accepted
    val ok = frac.withColumn("w",
      (col("w") * 10).cast(org.apache.spark.sql.types.DecimalType(18, 0)))
    assert(Curation.sampleWeighted(ok, "g", "id", "w", k = 5, Seq("id"))
      .count() == 5L)
    // the helper: milli-unit quantization keeps the weight bias (0.1 →
    // 100, 100.0 → 100000), and sub-0.0005 weights floor to 0 → excluded
    val scaled = frac.withColumn("w", Curation.weightScaledMilli(col("w")))
    val got = Curation.sampleWeighted(scaled, "g", "id", "w", k = 10,
      Seq("id")).as[(String, Long)].collect().map(_._2)
    assert(got.length == 10)
    assert(got.count(_ >= 25L) >= 8, s"heavy rows under-sampled: ${got.toSeq}")
    val tiny = Seq((1L, "g", 0.0004), (2L, "g", 2.0)).toDF("id", "g", "w")
      .withColumn("w", Curation.weightScaledMilli(col("w")))
    val t = Curation.sampleWeighted(tiny, "g", "id", "w", k = 5, Seq("id"))
      .as[(String, Long)].collect().map(_._2).toSeq
    assert(t == Seq(2L), s"sub-milli weight should floor out: $t")
  }

  test("chunkSequencesOverlap: windows every stride, tail always covered, one chunk when it fits") {
    val s = spark
    import s.implicits._
    // bpe tokens = plain [A-Za-z]+ runs — letter-only words, one
    // token each (a digit suffix would split into two)
    val words = ('a' to 'j').map(c => s"$c$c").mkString(" ") // 10 tokens
    val df = Seq((1L, words), (2L, "a b c"), (3L, "")).toDF("doc_id", "text")
    val got = Curation.chunkSequencesOverlap(df, "doc_id", "text",
        budget = 4, stride = 2)
      .as[(Long, Long, Long, Long, Long)].collect().sorted
    // doc 1: 10 tokens, budget 4, stride 2 → last id = ceil(6/2)=3 →
    // 4 chunks [0,4) [2,6) [4,8) [6,10): every consecutive pair
    // shares 2 tokens, the tail is covered exactly
    // doc 2: 3 tokens ≤ budget → ONE chunk [0,3)
    // doc 3: zero tokens → no rows
    assert(got === Array(
      (1L, 10L, 0L, 0L, 4L), (1L, 10L, 1L, 2L, 6L),
      (1L, 10L, 2L, 4L, 8L), (1L, 10L, 3L, 6L, 10L),
      (2L, 3L, 0L, 0L, 3L)), got.mkString(", "))
    // a boundary-straddling span is fully inside some chunk: with
    // stride <= budget/2 any span of <= stride+1 tokens is covered
    intercept[IllegalArgumentException] {
      Curation.chunkSequencesOverlap(df, "doc_id", "text", 4, 5)
    }
  }

  test("decon set: stored probe == batch decontaminate; appends visible, duplicate-proof, drift-flagged") {
    val s = spark
    val docs = Tables.load(s, sf001, "documents")
    val bench = docs.filter(col("source") === "src0")
    val corpus = docs.filter(col("source") =!= "src0")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-deconset").toString + "/set"

    Curation.writeDeconSet(bench, "doc_id", "text", n = 4, dir)
    assert(storeRecord(dir).compacted, "fresh store drifted?")
    val (set, n) = Curation.readDeconSet(s, dir)
    assert(n == 4)
    def probe() = Curation
      .decontaminateWithSet(corpus, Curation.readDeconSet(s, dir)._1,
        "doc_id", "text", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Curation.decontaminate(corpus, bench, "doc_id", "text", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe() == batch, "stored probe diverged from batch form")

    // append a SECOND benchmark: hits may only grow; the record must
    // flag the table unsorted; a replayed (duplicate) append of the same
    // benchmark changes nothing — the semi join's idempotence claim
    val bench2 = corpus.limit(3)
    Curation.deconSetAppend(bench2, "doc_id", "text", dir)
    assert(!storeRecord(dir).compacted, "append left no drift")
    val afterAppend = probe()
    assert(batch.map(_._1).subsetOf(afterAppend.map(_._1)),
      "append lost previously contaminated docs")
    Curation.deconSetAppend(bench2, "doc_id", "text", dir)
    assert(probe() == afterAppend, "duplicate append changed the probe")
  }
}
