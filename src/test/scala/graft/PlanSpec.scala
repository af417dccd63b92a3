package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Similarity, TextProfile}
import graft.queries.Registry
import graft.sources.Tables

/** Physical-plan discipline: the properties that decide whether a plan
  * survives a 100× scale-up — predicate pushdown into the parquet scan,
  * column pruning, broadcast joins for dims, whole-stage codegen. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = Registry.all(name).run(spark, sf0001)
    df.queryExecution.executedPlan.toString()
  }

  test("scan+filter pushes predicates into the parquet scan") {
    val p = plan("q_scan_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_quantity"), "quantity filter not pushed")
  }

  test("scan+filter prunes columns (no full-width read)") {
    val p = plan("q_scan_filter_project")
    // ReadSchema should not include uninvolved columns like l_comment-ish
    assert(!p.contains("l_returnflag"), "unpruned column in scan")
  }

  test("star join broadcasts dimension tables") {
    val p = plan("q_join_star_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("scalar queries stay in whole-stage codegen") {
    // "*(n)" prefixes mark operators inside a WholeStageCodegen span
    val p = plan("q_scalar_arith")
    assert(p.contains("*(1)"), p)
  }

  test("partition_by produces a single exchange, not more") {
    val p = plan("q_partition_by")
    assert("Exchange".r.findAllIn(p).length <= 1, p)
  }

  test("multimodal decode reads only the payload columns it needs") {
    // the partition-batched decode stage must not drag the full
    // documents schema through the scan: only doc_id + text feed the
    // asset wrapper
    val p = plan("q_multimodal_decode_meta")
    assert(!p.contains("source"), "unpruned column in multimodal scan")
    assert(!p.contains("lang"), "unpruned column in multimodal scan")
  }

  test("composite-key join is sort-merge: spillable at any scale") {
    // the aggregated side's cardinality scales with the fact table, so
    // broadcast would build a fact-sized driver hash table and a
    // shuffled hash join must fit its build partition in executor
    // memory (measured OOM wall at sf10: 59M groups / 32 partitions,
    // ProfileJoin). Sort-merge is the only shape that spills.
    val p = plan("q_join_composite_key")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("ShuffledHashJoin"), p)
  }

  test("exact jaccard never plans a cartesian product or a window") {
    val p = plan("q_dedup_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("IVF probe stage: no window and no corpus-sized nested loop") {
    // centroid assignment and probe selection are NARROW (array
    // argmax over a literal codebook); the only joins are the probe
    // equi-join on cell id and the top-k's aggregation — never a
    // row_number window or a nested-loop corpus scan
    val p = plan("q_ann_ivf_topk")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ObjectHashAggregate"),
      "bounded-heap top-k should run as ObjectHashAggregate\n" + p)
  }

  test("per-group top-k queries aggregate, never window-sort") {
    for (q <- Seq("q_text_top_terms", "q_source_cap", "q_sample_exact_k")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q plans a window\n$p")
      assert(p.contains("ObjectHashAggregate"), s"$q lost the heap agg\n$p")
    }
  }

  test("latest-row queries aggregate, never window-sort") {
    // last-write-wins selection runs as the bounded-heap k=1 aggregate
    // (operators/Latest.scala), so no per-key shuffle+sort survives in
    // the plan
    for (q <- Seq("q_table_upsert", "q_join_stream_stream_ttl",
        "q_pipeline_corpus_clean")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q plans a window\n$p")
      assert(p.contains("ObjectHashAggregate"), s"$q lost the heap agg\n$p")
    }
  }

  test("kNN vote broadcasts the labeled seed only when the caller vouches for it") {
    // the hint is OPT-IN (round-17 ADVICE): a caller passing the
    // hand-labeled seed — small by construction but usually
    // stats-less — sets broadcastSeed=true and never shuffles the
    // queries×k neighbor frame; the default adds NO hint, so a
    // corpus-cardinality label frame stays under AQE's sizing
    // instead of bypassing autoBroadcastJoinThreshold
    val s = spark
    import s.implicits._
    val neighbors = Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 10L, 1))
      .toDF("q_id", "nn_id", "rank")
    val labeled = Seq((10L, "a"), (11L, "b")).toDF("vec_id", "label")
    val hinted = graft.operators.Classify.knnVote(neighbors, labeled,
      "q_id", "nn_id", "rank", "vec_id", "label", broadcastSeed = true)
    val hp = hinted.queryExecution.executedPlan.toString()
    assert(hp.contains("BroadcastHashJoin"), hp)
    assert(!hp.contains("SortMergeJoin"), hp)
    // default: the logical plan carries no broadcast hint at all —
    // the planner, not the operator, owns the join strategy
    val unhinted = graft.operators.Classify.knnVote(neighbors, labeled,
      "q_id", "nn_id", "rank", "vec_id", "label")
    val hints = unhinted.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, unhinted.queryExecution.analyzed.toString())
  }

  test("stored-index probes build with no job; a driver-local query frame keeps its pushed In(term) and In(cell)") {
    val s = spark
    import s.implicits._
    val docs = Tables.load(s, sf0001, "documents")
    val emb = Tables.load(s, sf0001, "embeddings")
    val root = java.nio.file.Files.createTempDirectory("graft-lazyprobe")
      .toString
    TextProfile.bm25Index(docs, "doc_id", "text").write(s"$root/bm25")
    Similarity.ivfIndex(emb, "vec_id", "embedding", nlist = 8)
      .write(s"$root/ivf")
    val built = Similarity.ivfPqIndex(emb, "vec_id", "embedding", dim = 64,
      nlist = 8)
    built.write(s"$root/ivfpq")
    built.release()
    // loading the handles collects their codebooks: load, not build
    val bm = TextProfile.readBm25Index(s, s"$root/bm25", "doc_id")
    val ivf = Similarity.ivfReady(
      Similarity.readIvfIndex(s, s"$root/ivf", "vec_id", "embedding"))
    val pq = Similarity.ivfPqReady(
      Similarity.readIvfPqIndex(s, s"$root/ivfpq", "vec_id", "embedding"))
    def build(text: DataFrame, vecs: DataFrame): Seq[DataFrame] = Seq(
      TextProfile.bm25TopKWithIndex(text, "q_id", "qtext", bm, k = 3,
        stopwordCut = false),
      Similarity.ivfTopKWithReady(vecs, ivf, k = 3, nprobe = 2),
      Similarity.ivfPqTopKWithReady(vecs, pq, k = 3, nprobe = 2))
    val tableText = docs.filter($"doc_id" % 7 === 0)
      .select($"doc_id".as("q_id"), $"text".as("qtext"))
    val tableVecs = emb.filter($"vec_id" % 7 === 0)
    val localText = Seq((1L, tableText.head().getString(1).split("\\s+")
      .take(6).mkString(" "))).toDF("q_id", "qtext")
    val localVecs = s.createDataFrame(
      java.util.Arrays.asList(tableVecs.limit(1).collect(): _*), emb.schema)
    val prof = graft.obs.QueryProfile.install(s)
    val (lazyArm, localArm) =
      try {
        val t = prof.row("table")(build(tableText, tableVecs))
        val l = prof.row("local")(build(localText, localVecs))
        assert(prof.get("table").get.jobs == 0, prof.json("table"))
        assert(prof.get("local").get.jobs == 0, prof.json("local"))
        (t, l)
      } finally prof.close()
    def pushed(df: DataFrame, col: String) =
      df.queryExecution.executedPlan.toString.replaceAll("\\s+", " ")
        .matches(s".*PushedFilters: \\[[^]]*In\\($col.*")
    assert(pushed(localArm(0), "term"), localArm(0).queryExecution.executedPlan)
    assert(pushed(localArm(1), "cell"), localArm(1).queryExecution.executedPlan)
    assert(pushed(localArm(2), "cell"), localArm(2).queryExecution.executedPlan)
    assert(!lazyArm.exists(pushed(_, "term")) && !lazyArm.exists(pushed(_, "cell")))
    // past the ceiling a driver-local frame takes the join arm too
    val manyTerms = Seq((1L, docs.select("text").as[String].collect()
      .flatMap(_.split("\\s+")).distinct.take(4 * TextProfile.InTermsMax)
      .mkString(" "))).toDF("q_id", "qtext")
    assert(!pushed(TextProfile.bm25TopKWithIndex(manyTerms, "q_id", "qtext",
      bm, k = 3, stopwordCut = false), "term"))
    // the two arms answer alike: the same local rows behind a scan-like
    // (non-local) relation take the lazy arm
    def nonLocal(df: DataFrame) =
      s.createDataFrame(s.sparkContext.parallelize(df.collect().toSeq, 2),
        df.schema)
    build(nonLocal(localText), nonLocal(localVecs)).zip(localArm).foreach {
      case (viaJoin, viaIn) =>
        assert(viaJoin.collect().toSet == viaIn.collect().toSet)
    }
    val sizes = (lazyArm ++ localArm).map(_.count())
    assert(sizes.forall(_ > 0), sizes)
  }

  test("graft functions register once per session; a new session registers its own") {
    import graft.plans.{GraftCall, VectorExpressions}
    import org.apache.spark.sql.functions.{col, lit, struct}
    def topk = GraftCall(VectorExpressions.TopKName,
      struct(col("id").cast("double").as("score"), col("id").as("tb")),
      lit(2))
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier(
      VectorExpressions.TopKName)
    val reg = spark.sessionState.functionRegistry
    topk
    val (info, builder) = (reg.lookupFunction(id).get,
      reg.lookupFunctionBuilder(id).get)
    topk
    GraftCall(VectorExpressions.DotName, col("a"), col("b"))
    assert(reg.lookupFunction(id).get eq info)
    assert(reg.lookupFunctionBuilder(id).get eq builder)
    val other = spark.newSession()
    org.apache.spark.sql.SparkSession.setActiveSession(other)
    try {
      val top = other.range(5).agg(topk.as("t")).head().getSeq[Any](0)
      assert(top.size == 2)
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
  }

  test("a small frame is collected once into a driver-local relation; LocalRows reads at most max distinct elements") {
    val s = spark
    import s.implicits._
    import graft.plans.LocalRows
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def local(df: DataFrame) =
      df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    import graft.streaming.StreamJobs
    val src = s.range(0, 10, 1, 1).toDF("id")
    assert(!local(src))
    val (small, jobs, _) = sparkWork(StreamJobs.prepare(src, keepWidth = false))
    assert(jobs.size == 1)
    assert(local(small) && small.as[Long].collect().sorted.toSeq == (0L until 10L))
    assert(!local(StreamJobs.prepare(
      s.range(0, StreamJobs.BatchRows + 1L, 1, 1).toDF("id"), keepWidth = false)))
    val arrays = Seq(Seq(1, 2, 3), Seq(3, 4)).toDF("a")
    assert(LocalRows.distinctElems(arrays, 4).map(_.toSet) == Some(Set(1, 2, 3, 4)))
    assert(LocalRows.distinctElems(arrays, 3).isEmpty)
    assert(LocalRows.distinctElems(src.selectExpr("array(id)"), 100).isEmpty)
  }
}
