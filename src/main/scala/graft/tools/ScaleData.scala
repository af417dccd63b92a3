package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bench-only scale-up generator: derives an sf1-shaped dataset from
  * the driver-provided sf0.1 tables by writing `copies` key-shifted
  * copies of every fact table (dimension tables `region`/`nation` are
  * fixed in TPC-H and copied once). Each copy is an isomorphic
  * universe — all primary AND foreign keys shift by the same per-copy
  * offset — so join fan-outs, group cardinalities per key, and
  * selectivities match a true 10× corpus instead of multiplying
  * (verbatim row duplication would give every join key 10 matches per
  * side = 100× join output, which benchmarks a different query).
  *
  * Near-dup realism: duplicated text/vectors would create quadratic
  * CROSS-COPY candidate pairs in the dedup/ANN queries (10 identical
  * twins per document → 45 extra pairs each; identical embeddings →
  * 10×-deep LSH buckets → 100× verify cost) — that benchmarks
  * duplicate-blowup, not scale-up. So each copy decorrelates content:
  * document text is alphabet-rotated per copy (within-copy near-dup
  * structure is preserved exactly; cross-copy similarity drops to
  * noise) and embeddings are cyclically shifted per copy (cosine
  * between a vector and its shifted copy ≈ random).
  *
  * KNOWN LIMIT of the rotation: there are only 26 distinct rotation
  * classes, so at copies > 26 the classes wrap and same-rotation
  * copies are exact cross-copy duplicates (different ids, identical
  * text). Dedup pair counts therefore grow ~quadratically in
  * copies/26 past that point (measured: 819k pairs at 100 copies →
  * 3.75M at 200 — C(c/26, 2) within-class growth), while within-copy
  * structure stays exact. For the sf20 clustering evidence this is
  * DELIBERATE — the organic >2M-edge corpus leverages it — but pair
  * counts at >26 copies measure duplicate-class growth, not pure
  * corpus scale-up; non-dedup queries are unaffected (keys still
  * shift per copy). The embedding shift has dim=64 distinct phases,
  * so the same wrap applies past 64 copies there.
  *
  * Output is NOT for the correctness gate (Verify runs on the
  * driver's own sf0.01 data only); it exists to measure the bench
  * scaling slope BASELINE.md records. Usage:
  * ScaleData <srcDir> <destDir> [copies] [tables-csv]
  * (tables-csv limits generation, e.g. "documents" for the sf20
  * clustering profile — writing 120M lineitem rows nobody reads is
  * just disk).
  */
object ScaleData {

  /** Per-copy key offset: far above every id in the source tables. */
  private val Offset = 1000000000L

  private val lowercase = "abcdefghijklmnopqrstuvwxyz"
  private val uppercase = lowercase.toUpperCase

  private def rotated(s: String, i: Int): String =
    s.drop(i % 26) + s.take(i % 26)

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    // relative to the working directory (the checkout root under
    // `sbt runMain`); benchdata/ is git-ignored
    val dest = args.lift(1).getOrElse("benchdata/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val only: Option[Set[String]] =
      args.lift(3).map(_.split(',').map(_.trim).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession("graft-scale-data",
      master = Some(s"local[$cpus]"), shufflePartitions = Some(cpus.toInt))

    def read(t: String): DataFrame = {
      // events.ts has shipped as TIMESTAMP(NANOS) (which Spark's
      // reader rejects without the legacy int64 flag) and later as
      // TIMESTAMP(MICROS)/NTZ. Read raw and KEEP whatever the source
      // had — graft.sources.Tables.load normalizes either regime on
      // load, so the scaled copy stays bit-faithful to its source.
      if (t == "events")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$src/$t.parquet")
    }

    def write(df: => DataFrame, t: String): Unit =
      if (only.forall(_.contains(t))) {
        df.write.mode("overwrite").parquet(s"$dest/$t.parquet")
        println(s"[scale] wrote $t")
      } else println(s"[scale] skipped $t (not in tables filter)")

    // dimensions: fixed regardless of scale factor
    write(read("region"), "region")
    write(read("nation"), "nation")

    /** `copies` unions of `df`, each with `keyCols` shifted by
      * i*Offset and `tweak` applied with the copy index. */
    def scaled(t: String, keyCols: Seq[String],
        tweak: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val base = read(t)
      (0 until copies).map { i =>
        val shifted = keyCols.foldLeft(base) { (d, k) =>
          d.withColumn(k, col(k) + lit(i * Offset))
        }
        tweak(shifted, i)
      }.reduce(_ unionAll _)
    }

    write(scaled("customer", Seq("c_custkey")), "customer")
    write(scaled("supplier", Seq("s_suppkey")), "supplier")
    write(scaled("part", Seq("p_partkey")), "part")
    write(scaled("orders", Seq("o_orderkey", "o_custkey")), "orders")
    write(scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")),
      "lineitem")
    // events keep their timestamps: a 10× stream over the same window
    // is 10× density, which is how a stream scales
    write(scaled("events", Seq("event_id", "user_id")), "events")
    // alphabet rotation per copy: preserves token/shingle counts and
    // within-copy (near-)duplicate structure bit-for-bit, decorrelates
    // copies (a rotated shingle never equals an unrotated one)
    write(scaled("documents", Seq("doc_id"), (d, i) =>
      d.withColumn("text", translate(col("text"),
        lowercase + uppercase,
        rotated(lowercase, i) + rotated(uppercase, i)))), "documents")
    // cyclic element shift per copy: same norms/stats, cosine between
    // cross-copy twins ≈ random so ANN/near-dup buckets don't stack
    write(scaled("embeddings", Seq("vec_id"), (d, i) => {
      val dim = size(col("embedding"))
      val k = lit(i) % dim
      d.withColumn("embedding",
        concat(slice(col("embedding"), k + 1, dim - k),
          slice(col("embedding"), lit(1), k)))
    }), "embeddings")

    spark.stop()
  }
}
