package graft

import graft.plans.ScaleLint
import graft.queries.Registry

/** Smoke: every registered query plans clean of error-severity scale
  * findings, runs at sf0.001 and returns rows (hash-correctness vs
  * DuckDB is the driver's gate; this catches runtime regressions
  * fast). */
class QueriesSpec extends SparkSpec {

  // the automated form of the per-query PlanSpec audits: no benched
  // query may plan a cartesian or a global window. The documented
  // exceptions are ANN scoring stages whose corpus×queries cross
  // join IS the operator's definition: the brute-force baseline
  // (the recall oracle IVF is measured against), the PQ ADC
  // ranker, which scores RECONSTRUCTIONS through the same
  // broadcast-queries stage — its scale lever is code-size
  // compression (and composing with IVF probe pruning), not join
  // shape (Similarity.scala) — and q_ann_recall / q_ann_rank_metrics,
  // whose REFERENCE arm is that same brute-force baseline by
  // definition (exact ground truth over the sampled query set; the
  // candidate arm under evaluation is the probe-pruned IVF).
  // Round 18 adds the bounded-bench decon pair: exact semantic
  // decon IS a corpus×bench cross join by definition (corpus-linear
  // with a bench-bounded broadcast inner loop — the recall-1.0 arm),
  // and the recall row composes that arm as its reference.
  private val annCross =
    Set("CARTESIAN", "CARTESIAN_PHYSICAL", "NESTED_LOOP_JOIN")
  private val lintAllowed = Map(
    "q_ann_bruteforce_topk" -> annCross,
    "q_ann_pq_topk" -> annCross,
    "q_ann_recall" -> annCross,
    "q_ann_rank_metrics" -> annCross,
    "q_embed_decon_exact" -> annCross,
    "q_embed_decon_recall" -> annCross,
    // round 19: the stored-set recall canary composes the same
    // exact reference arm as q_embed_decon_recall, and the
    // dispatch canary IS the exact arm whenever the dispatch works
    "q_embed_decon_recall_stored" -> annCross,
    "q_embed_decon_auto" -> annCross)

  Registry.all.foreach { case (name, q) =>
    test(s"$name runs and returns rows at sf0.001") {
      // per-query cache hygiene (LintReport's rule): a persisted
      // intermediate from an earlier query must not substitute
      // InMemoryRelations into this query's linted plan — an
      // error-severity finding under a cached subtree would be
      // invisible to the lint below
      spark.catalog.clearCache()
      val df = q.run(spark, sf0001)
      val errs = ScaleLint.errors(df)
        .filterNot(f => lintAllowed.getOrElse(name, Set.empty).contains(f.code))
      assert(errs.isEmpty, s"$name has scale errors: ${errs.map(_.code)}")
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle name matches a query name") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
