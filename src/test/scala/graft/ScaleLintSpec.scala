package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.plans.ScaleLint

class ScaleLintSpec extends SparkSpec {

  private def codes(df: org.apache.spark.sql.DataFrame): Set[String] =
    ScaleLint.lint(df).map(_.code).toSet

  test("flags conditionless joins as cartesian") {
    val s = spark
    import s.implicits._
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(4, 5).toDF("y")
    val cs = codes(a.crossJoin(b))
    assert(cs.contains("CARTESIAN") || cs.contains("CARTESIAN_PHYSICAL") ||
      cs.contains("NESTED_LOOP_JOIN"), cs)
    // an equi-join is not flagged
    val joined = a.join(b.withColumnRenamed("y", "x"), "x")
    assert(!codes(joined).exists(_.startsWith("CARTESIAN")), codes(joined))
  }

  test("flags a global window as error, keyed ranking as info") {
    val s = spark
    import s.implicits._
    val df = Seq((1, 10), (1, 20), (2, 30)).toDF("k", "v")
    val global = df.withColumn("rn",
      row_number().over(Window.orderBy($"v")))
    assert(codes(global).contains("GLOBAL_WINDOW"), codes(global))
    val keyed = df.withColumn("rn",
      row_number().over(Window.partitionBy($"k").orderBy($"v")))
    val ck = codes(keyed)
    assert(!ck.contains("GLOBAL_WINDOW"), ck)
    assert(ck.contains("WINDOW_TOPK"), ck)
    // a windowed sum (no ranking function) is not the latest-row
    // anti-pattern
    val summed = df.withColumn("s",
      sum($"v").over(Window.partitionBy($"k")))
    assert(!codes(summed).contains("WINDOW_TOPK"), codes(summed))
  }

  test("flags an unbounded global sort; a limited one is bounded") {
    val s = spark
    import s.implicits._
    val df = Seq(3, 1, 2).toDF("x")
    assert(codes(df.orderBy($"x")).contains("GLOBAL_SORT"))
    assert(!codes(df.orderBy($"x").limit(2)).contains("GLOBAL_SORT"))
    // the limit does not reach through an aggregate: the sort below
    // still runs in full
    val through = df.orderBy($"x").groupBy($"x").count().limit(2)
    // (optimizer may eliminate the useless pre-aggregate sort — accept
    // either, but a plan that KEEPS the sort must flag it)
    val kept = through.queryExecution.optimizedPlan.toString()
      .contains("Sort")
    if (kept) assert(codes(through).contains("GLOBAL_SORT"))
  }

  test("flags a filter a UDF keeps out of the parquet scan") {
    val s = spark
    import s.implicits._
    val li = graft.sources.Tables.load(spark, sf0001, "lineitem")
    // plain predicate pushes → clean
    val pushed = li.filter($"l_quantity" > 10).select("l_orderkey")
    assert(!codes(pushed).contains("FILTER_NOT_PUSHED"), codes(pushed))
    // a UDF predicate pushes nothing → flagged
    val f = udf((d: Double) => d > 10)
    val unpushed = li.filter(f($"l_quantity")).select("l_orderkey")
    assert(codes(unpushed).contains("FILTER_NOT_PUSHED"), codes(unpushed))
  }

  test("attributes an unpushed filter to its scan inside a join plan") {
    // the round-7 string heuristic went blind on any multi-scan plan;
    // the per-scan walk (FileSourceScanLike.dataFilters vs
    // pushedDownFilters) must flag exactly the UDF-filtered side
    val s = spark
    import s.implicits._
    val f = udf((d: Double) => d > 10)
    val li = graft.sources.Tables.load(spark, sf0001, "lineitem")
      .filter(f($"l_quantity"))                     // unpushed side
    val ord = graft.sources.Tables.load(spark, sf0001, "orders")
      .filter($"o_totalprice" > 1000)               // pushed side
    val joined = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .select("l_orderkey", "o_totalprice")
    val findings = ScaleLint.lint(joined).filter(_.code == "FILTER_NOT_PUSHED")
    assert(findings.size == 1, findings)
    assert(findings.head.detail.contains("lineitem"), findings.head.detail)
    // both sides pushed → clean
    val clean = graft.sources.Tables.load(spark, sf0001, "lineitem")
      .filter($"l_quantity" > 10)
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .select("l_orderkey", "o_totalprice")
    assert(!codes(clean).contains("FILTER_NOT_PUSHED"), codes(clean))
  }

  test("flags a relation scanned 3+ times as info; single/double scans stay quiet") {
    val s = spark
    import s.implicits._
    val li = graft.sources.Tables.load(spark, sf0001, "lineitem")
    val once = li.select("l_orderkey")
    assert(!codes(once).contains("MULTI_SCAN"), codes(once))
    val twice = li.select("l_orderkey")
      .union(li.select("l_partkey").withColumnRenamed("l_partkey", "l_orderkey"))
    assert(!codes(twice).contains("MULTI_SCAN"), codes(twice))
    // three distinct projections defeat exchange reuse → flagged, but
    // never at error severity (re-scanning cheap relations is fine)
    val thrice = twice.union(li.select("l_suppkey")
      .withColumnRenamed("l_suppkey", "l_orderkey"))
    assert(codes(thrice).contains("MULTI_SCAN"), codes(thrice))
    assert(ScaleLint.errors(thrice).isEmpty)
  }

  test("flags a shuffled-hash join; sort-merge stays quiet") {
    val s = spark
    import s.implicits._
    val a = Seq((1, "x"), (2, "y")).toDF("k", "va")
    val b = Seq((1, "p"), (2, "q")).toDF("k", "vb")
    val shj = a.hint("shuffle_hash").join(b, "k")
    assert(codes(shj).contains("SHUFFLE_HASH_JOIN"), codes(shj))
    val smj = a.hint("merge").join(b, "k")
    assert(!codes(smj).contains("SHUFFLE_HASH_JOIN"), codes(smj))
  }

  test("reports the shuffle inventory") {
    val s = spark
    import s.implicits._
    val df = Seq((1, 2)).toDF("k", "v").groupBy("k").count()
    val shuffles = ScaleLint.lint(df).filter(_.code == "SHUFFLES")
    assert(shuffles.nonEmpty && shuffles.head.detail.startsWith("1 "),
      shuffles)
  }

  test("findings survive execution (AQE-materialized query stages)") {
    // after an action, AQE replaces exchanges with materialized
    // QueryStageExec wrappers; the walk must descend into them so a
    // post-hoc lint (e.g. a QueryExecutionListener) sees the same
    // plan facts as a pre-execution one
    val s = spark
    import s.implicits._
    val f = udf((d: Double) => d > 10)
    val df = graft.sources.Tables.load(spark, sf0001, "lineitem")
      .filter(f($"l_quantity")).groupBy("l_returnflag").count()
    val before = codes(df)
    df.collect()
    val after = codes(df)
    assert(after.contains("FILTER_NOT_PUSHED"), after)
    assert(after.contains("SHUFFLES"), after)
    assert(before == after, s"pre=$before post=$after")
  }

  test("attached listener audits every action, detach stops it") {
    val s = spark
    import s.implicits._
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(String, Set[String])]
    val l = ScaleLint.attach(s, (name, fs) =>
      seen.synchronized { seen += name -> fs.map(_.code).toSet })
    try {
      Seq((1, 2), (1, 3)).toDF("k", "v").groupBy("k").count().collect()
      // listener callbacks are delivered asynchronously on the
      // listener bus; wait for the finding to arrive
      val deadline = System.nanoTime() + 10000000000L
      while (seen.synchronized(seen.isEmpty) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      val codes0 = seen.synchronized(seen.toList).flatMap(_._2).toSet
      assert(codes0.contains("SHUFFLES"), codes0)
    } finally ScaleLint.detach(s, l)
    val before = seen.synchronized(seen.size)
    Seq(1).toDF("x").groupBy("x").count().collect()
    Thread.sleep(500) // listener bus drains asynchronously
    assert(seen.synchronized(seen.size) == before, "detach did not stop audits")
  }

  test("lintStreamingQuery sees the real micro-batch plan: state ops + shuffles") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // a stateful streaming aggregation: the batch analog of this
    // pipeline lints as one exchange and no state at all — the
    // incremental plan must surface both the StateStoreSave pair and
    // its shuffle, which is the whole point of the streaming lint path
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Int]
    val q = input.toDF().groupBy($"value" % 10 as "k").count()
      .writeStream.format("memory").queryName("lint_stream_probe")
      .outputMode("complete").start()
    try {
      input.addData(1 to 100: _*)
      q.processAllAvailable()
      val findings = ScaleLint.lintStreamingQuery(q)
      assert(findings.isDefined, "no execution after processAllAvailable?")
      val fs = findings.get
      val stateful = fs.find(_.code == "STATEFUL_OPS")
      assert(stateful.isDefined, fs.map(_.code))
      assert(stateful.get.detail.contains("StateStoreSave"),
        stateful.get.detail)
      assert(fs.exists(_.code == "SHUFFLES"), fs.map(_.code))
    } finally {
      q.stop()
      s.sql("DROP VIEW IF EXISTS lint_stream_probe")
    }
  }

  test("STATEFUL_UNBOUNDED: no-timeout no-watermark state flags as error; a TTL clears it") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.{Dataset => SDs}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    // three cases over the same fold: NoTimeout bare, NoTimeout
    // downstream of a watermark (STILL unbounded — watermarks never
    // evict (flat)mapGroupsWithState state; only timeouts or task
    // code do), and EventTimeTimeout (engine-side expiry — bounded).
    // (A ProcessingTimeTimeout variant is untestable here: even
    // unarmed, the conf makes processAllAvailable rerun no-data
    // batches — the StreamHarness scaladoc's hang.)
    def runCase(name: String, timeout: GroupStateTimeout,
        prep: SDs[(Int, java.sql.Timestamp)] => SDs[(Int, java.sql.Timestamp)])
        : Seq[ScaleLint.Finding] = {
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Int, java.sql.Timestamp)]
      val counted = prep(input.toDS()).groupByKey(_._1 % 10)
        .flatMapGroupsWithState[Long, (Int, Long)](
          org.apache.spark.sql.streaming.OutputMode.Append(), timeout) {
          (k: Int, vs: Iterator[(Int, java.sql.Timestamp)],
              st: GroupState[Long]) =>
            val n = st.getOption.getOrElse(0L) + vs.size
            st.update(n)
            Iterator.single((k, n))
        }
      val q = counted.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData((1 to 50).map(i =>
          (i, new java.sql.Timestamp(i * 1000L))): _*)
        q.processAllAvailable()
        ScaleLint.lintStreamingQuery(q).getOrElse(Nil)
      } finally {
        q.stop()
        s.sql(s"DROP VIEW IF EXISTS $name")
      }
    }
    def flagOf(fs: Seq[ScaleLint.Finding]) =
      fs.find(_.code == "STATEFUL_UNBOUNDED")
    // NoTimeout, no watermark: no expiry path — error
    val bare = runCase("lint_unb_bare", GroupStateTimeout.NoTimeout,
      identity)
    assert(flagOf(bare).exists(_.severity == "error"), bare.map(_.code))
    // NoTimeout BEHIND a watermark: still unbounded — the round-12
    // review caught that suppressing on watermark metadata was a
    // systematic false negative (watermarks evict agg/dedup/join
    // state, never mapGroupsWithState state)
    val wm = runCase("lint_unb_wm", GroupStateTimeout.NoTimeout,
      ds => ds.withWatermark("_2", "0 milliseconds"))
    assert(flagOf(wm).isDefined, wm.map(_.code))
    // EventTimeTimeout: engine-side expiry exists — no flag
    val evt = runCase("lint_unb_evt", GroupStateTimeout.EventTimeTimeout,
      ds => ds.withWatermark("_2", "0 milliseconds"))
    assert(flagOf(evt).isEmpty, evt.map(_.code))
  }
}
