package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

/** Product quantization (Similarity.pqTopK / pqEncode): deterministic
  * rebuilds, code-shape invariants, and non-degenerate ranking. The
  * bit-exact pipeline itself is oracle-gated (q_ann_pq_topk). */
class PqSpec extends SparkSpec {

  private def emb = Tables.load(spark, sf001, "embeddings")

  test("codes have length m and values within [0, ksub)") {
    val s = spark
    import s.implicits._
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding",
      dim = 64, m = 4, ksub = 16)
      .select($"codes").as[Seq[Int]].collect()
    assert(codes.nonEmpty)
    assert(codes.forall(_.length == 4))
    assert(codes.forall(_.forall(c => c >= 0 && c < 16)))
    // a degenerate codebook (all vectors → one code word) would also
    // satisfy the bounds — require some spread
    assert(codes.distinct.length > 4)
  }

  test("training is deterministic: two builds produce identical output") {
    val s = spark
    import s.implicits._
    def run() = Similarity.pqTopK(
      emb.filter($"vec_id" % 100 === 0), emb, "vec_id", "embedding",
      dim = 64, m = 4, ksub = 16, k = 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(run() == run())
  }

  test("stored index round-trip ranks identically to the fresh build") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pq")
      .toString + "/idx"
    Similarity.pqIndex(emb, "vec_id", "embedding", dim = 64).write(dir)
    val idx = Similarity.readPqIndex(s, dir, "vec_id")
    assert(idx.m == 4 && idx.ksub == 16 && idx.dim == 64)
    val q = emb.filter($"vec_id" % 100 === 0)
    val stored = Similarity.pqTopKWithIndex(q, idx, "embedding", k = 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    val fresh = Similarity.pqTopK(q, emb, "vec_id", "embedding",
      dim = 64, m = 4, ksub = 16, k = 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(stored == fresh)
  }

  test("PQ ranking overlaps exact brute-force top-k") {
    val s = spark
    import s.implicits._
    val q = emb.filter($"vec_id" % 100 === 0)
    val pq = Similarity.pqTopK(q, emb, "vec_id", "embedding",
      dim = 64, m = 4, ksub = 16, k = 5)
      .select($"q_id", $"nn_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
      k = 5).select($"q_id", $"nn_id").as[(Long, Long)].collect().toSet
    // 16-word codebooks on synthetic embeddings are coarse; require
    // genuine signal, not parity (the quality knobs are m and ksub)
    val overlap = pq.intersect(exact).size.toDouble / exact.size
    assert(overlap > 0.1, s"PQ@5 overlap with exact top-5 = $overlap")
  }

  test("stored IVF-PQ index round-trip ranks identically to the one-shot operator") {
    val s = spark
    import s.implicits._
    val q = emb.filter($"vec_id" % 100 === 0)
    Seq(true, false).foreach { residual =>
      val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq")
        .toString + "/idx"
      Similarity.ivfPqIndex(emb, "vec_id", "embedding", dim = 64,
        nlist = 16, m = 4, ksub = 16, residual = residual).write(dir)
      val idx = Similarity.readIvfPqIndex(s, dir, "vec_id", "embedding")
      assert(idx.m == 4 && idx.ksub == 16 && idx.dim == 64 &&
        idx.residual == residual)
      val stored = Similarity.ivfPqTopKWithIndex(q, idx, k = 5,
        nprobe = 4).as[(Long, Long, Long, Double)].collect().toSet
      val fresh = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding",
        dim = 64, k = 5, nlist = 16, nprobe = 4, m = 4, ksub = 16,
        residual = residual)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(stored == fresh, s"residual=$residual round trip diverged")
    }
  }

  test("IVF-PQ ingest append encodes with stored codebooks, O(batch) on disk") {
    val s = spark
    import s.implicits._
    val half1 = emb.filter($"vec_id" % 2 === 0)
    val half2 = emb.filter($"vec_id" % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq")
      .toString + "/idx"
    Similarity.ivfPqIndex(half1, "vec_id", "embedding", dim = 64,
      nlist = 16, residual = true).write(dir)
    val idx = Similarity.readIvfPqIndex(s, dir, "vec_id", "embedding")
    Similarity.ivfPqIngestBatch(Similarity.ivfPqEncoder(idx), half2, dir,
      graft.store.Store.freshTag())
    val reread = Similarity.readIvfPqIndex(s, dir, "vec_id", "embedding")
    assert(reread.codes.count() == emb.count())
    val q = emb.filter($"vec_id" % 100 === 0)
    val viaStored = Similarity.ivfPqTopKWithIndex(q, reread, k = 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    // codebooks untouched by the append: batch rows were encoded with
    // the STORED state, not retrained
    assert(reread.pqCodebooks.collect().map(_.toSeq).toSet ==
      idx.pqCodebooks.collect().map(_.toSeq).toSet)
    // every query finds neighbors from BOTH halves' id space
    val nnIds = viaStored.map(_._2)
    assert(nnIds.exists(_ % 2 == 0) && nnIds.exists(_ % 2 == 1))
  }

  test("ingest append fails fast on a wrong-dimension batch, store untouched") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq")
      .toString + "/idx"
    Similarity.ivfPqIndex(emb.filter($"vec_id" % 2 === 0), "vec_id",
      "embedding", dim = 64, nlist = 16, residual = true).write(dir)
    val idx = Similarity.readIvfPqIndex(s, dir, "vec_id", "embedding")
    val before = idx.codes.count()
    // a dim-32 batch: the dot kernel would truncate silently and
    // encode garbage — the append must abort instead
    val wrongDim = emb.filter($"vec_id" % 2 === 1)
      .withColumn("embedding", slice($"embedding", 1, 32))
    val e = intercept[Exception] {
      Similarity.ivfPqIngestBatch(Similarity.ivfPqEncoder(idx), wrongDim,
        dir, graft.store.Store.freshTag())
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("ivfPqIngestBatch")),
      msgs(e).mkString(" | "))
    // the aborted write committed nothing
    val reread = Similarity.readIvfPqIndex(s, dir, "vec_id", "embedding")
    assert(reread.codes.count() == before)
  }

  test("derived parameters engage end-to-end: sqrt(N) codebook, ratio probe width, recall floor") {
    // The oracle gate pins nlist=16 for determinism — exactly the
    // fixed-constant trap derivedNlist exists to close (a constant
    // carried to 100x the data scans 100x per probe). This is the
    // derived path's own standing evidence: build with NO explicit
    // parameters and assert the derivation actually engaged, so a
    // constant hardcoded back into the build or probe path fails
    // here even while every oracle row stays green.
    val s = spark
    import s.implicits._
    val dim = 64
    // clustered corpus (same planted structure as the residual test),
    // N = 1024 so sqrt(N) = 32 sits ABOVE the 16 floor — the test
    // can tell derivation from the floor constant
    val rows = (0 until 1024).map { i =>
      val c = i % 8
      val b = (i / 8) % 16
      val vec = Array.tabulate(dim) { d =>
        val center = if (d % 8 == c) 10.0f else 0.0f
        val bump = if (d == 32 + b) 2.0f else 0.0f
        center + bump + (((i * 131 + d * 17) % 19) - 9) * 0.002f
      }
      (i.toLong, vec)
    }
    val df = rows.toDF("vec_id", "embedding")
    val n = df.count()
    val nl = Similarity.derivedNlist(n)
    assert(nl == math.round(math.sqrt(n.toDouble)).toInt && nl > 16,
      s"derivedNlist($n)=$nl — expected sqrt-sizing above the floor")
    val np = Similarity.derivedNprobe(nl)
    assert(np == nl / 4, s"derivedNprobe($nl)=$np — ratio rule broken")

    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq")
      .toString + "/idx"
    // no nlist argument: the build must derive
    Similarity.ivfPqIndex(df, "vec_id", "embedding", dim = dim,
      residual = true).write(dir)
    val idx = Similarity.readIvfPqIndex(s, dir, "vec_id", "embedding")
    assert(idx.codebook.count() == nl,
      s"stored codebook has ${idx.codebook.count()} cells — a " +
        s"hardcoded constant replaced derivedNlist($n)=$nl")

    val q = df.filter($"vec_id" % 50 === 0)
    // no nprobe argument: the probe must derive nl/4 — bit-identical
    // to passing it explicitly, and NOT collapsed to a narrow probe
    val derived = Similarity.ivfPqTopKWithIndex(q, idx, k = 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    val explicit = Similarity.ivfPqTopKWithIndex(q, idx, k = 5,
      nprobe = np).as[(Long, Long, Long, Double)].collect().toSet
    assert(derived == explicit,
      "nprobe=0 diverged from the explicit derived probe width")
    val narrow = Similarity.ivfPqTopKWithIndex(q, idx, k = 5,
      nprobe = 1).as[(Long, Long, Long, Double)].collect().toSet
    assert(derived != narrow,
      "derived probe indistinguishable from nprobe=1 — wiring broken")

    // quality of the derived operating point: recall@5 against the
    // float-scoring IVF ranking at the SAME derived parameters
    val ref = Similarity.ivfTopK(q, df, "vec_id", "embedding", k = 5,
        nlist = nl, nprobe = np)
      .select($"q_id", $"nn_id").as[(Long, Long)].collect().toSet
    val got = derived.map(t => (t._1, t._2))
    val recall = got.intersect(ref).size.toDouble / ref.size
    info(f"derived-path recall@5 vs ivf-float (nlist=$nl nprobe=$np): $recall%.3f")
    assert(recall >= 0.5, s"derived-path recall@5=$recall < 0.5 floor")
  }

  test("residual (IVFADC) encoding beats raw PQ at the same code budget on clustered data") {
    val s = spark
    import s.implicits._
    // 8 well-separated centers; each vector = its center + a small
    // deterministic perturbation. The coarse quantizer absorbs the
    // centers, so residuals live in a tiny ball — exactly the
    // distribution PQ codes well — while raw-vector PQ must spend the
    // same 4×16 budget spanning the full inter-center spread. This is
    // the structure real embedding corpora have (and the uniform
    // gate corpus deliberately lacks — ProfilePq measures that case).
    val dim = 64
    // vec = 10·center(c) on dims {d : d%8 == c} (the coarse
    // structure) + 2·bump(b) at dim 32 + b (the in-cell ranking
    // signal: 16 discrete sub-group patterns per cluster, small
    // enough for a residual codebook to code near-exactly) + tiny
    // deterministic noise to break ties
    val rows = (0 until 512).map { i =>
      val c = i % 8
      val b = (i / 8) % 16
      val vec = Array.tabulate(dim) { d =>
        val center = if (d % 8 == c) 10.0f else 0.0f
        val bump = if (d == 32 + b) 2.0f else 0.0f
        center + bump + (((i * 131 + d * 17) % 19) - 9) * 0.002f
      }
      (i.toLong, vec)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" % 20 === 0)
    // reference: the float-scoring IVF ranking with the same probes —
    // recall against it isolates what the PQ encoding itself loses
    val ref = Similarity.ivfTopK(q, df, "vec_id", "embedding", k = 5,
        nlist = 8, nprobe = 2)
      .select($"q_id", $"nn_id").as[(Long, Long)].collect().toSet
    def recall(res: Boolean): Double = {
      val got = Similarity.ivfPqTopK(q, df, "vec_id", "embedding",
        dim = dim, k = 5, nlist = 8, nprobe = 2, m = 4, ksub = 16,
        residual = res)
        .select($"q_id", $"nn_id").as[(Long, Long)].collect().toSet
      got.intersect(ref).size.toDouble / ref.size
    }
    val raw = recall(res = false)
    val resid = recall(res = true)
    info(f"recall@5 vs ivf-float on clustered data: raw=$raw%.3f residual=$resid%.3f")
    assert(resid >= raw, s"residual recall $resid < raw recall $raw")
    assert(resid >= 0.5, s"residual=$resid raw=$raw — encoding degenerate?")
  }
}
