package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{Sinks, Tables}

/** Date-time bucketed parquet sink: bucket layout, append semantics,
  * and partition pruning on the bucket column. */
class SinksSpec extends SparkSpec {

  test("bucketed write partitions by hour and prunes on read") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("graft-sinks").toString
    val events = Tables.load(s, sf001, "events").limit(5000)
      .select($"event_id", $"user_id", $"ts").cache()
    Sinks.writeDateTimeBucketed(events, "ts", out, "job-a")

    val back = s.read.parquet(s"$out/job-a")
    assert(back.count() == events.count())
    // bucket column materialized from the directory layout
    val buckets = back.select(Sinks.BucketCol).distinct().as[String].collect()
    assert(buckets.nonEmpty && buckets.forall(_.matches("\\d{4}-\\d{2}-\\d{2}-\\d{2}")))
    // a bucket-filtered scan prunes partitions: only matching files read
    val one = buckets.min
    val pruned = back.filter(col(Sinks.BucketCol) === one)
    val plan = pruned.queryExecution.executedPlan.toString
    // the EQUALITY predicate must appear INSIDE the scan's
    // PartitionFilters list — matching the bare column name would also
    // pass when Catalyst pushes only isnotnull(bucket_date) and the
    // equality stays in a post-scan Filter (partial pruning)
    val prunedFilter =
      s"PartitionFilters: \\[[^\\]]*${Sinks.BucketCol}[^\\]]*=".r
    assert(prunedFilter.findFirstIn(plan).isDefined,
      s"bucket filter must reach the scan as a partition filter:\n$plan")
    val expected = events
      .filter(date_format($"ts", "yyyy-MM-dd-HH") === one).count()
    assert(pruned.count() == expected)

    // append mode: a second run adds rows to existing buckets
    Sinks.writeDateTimeBucketed(events, "ts", out, "job-a")
    assert(s.read.parquet(s"$out/job-a").count() == 2 * events.count())
    events.unpersist()
  }

  test("a bucketed write that fails mid-job leaves the destination unchanged; a rerun adds rows once") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("graft-sinks").toString
    val events = Tables.load(s, sf001, "events").limit(4000)
      .select($"event_id", $"user_id", $"ts").cache()
    Sinks.writeDateTimeBucketed(events, "ts", out, "job-a")
    def files(): Seq[String] = {
      val root = java.nio.file.Paths.get(out)
      val walk = Files.walk(root)
      try walk.filter(Files.isRegularFile(_)).toArray.toSeq
        .map(p => root.relativize(p.asInstanceOf[java.nio.file.Path])
          .toString).sorted
      finally walk.close()
    }
    val before = files()
    // the committer every GraftSession write runs under: task files
    // land in the output path as each task commits
    val hc = s.sparkContext.hadoopConfiguration
    val key = "mapreduce.fileoutputcommitter.algorithm.version"
    val prev = Option(hc.get(key))
    hc.set(key, "2")
    try {
      // eight tasks on four cores: the last fails after earlier ones
      // have committed
      val failing = events.repartition(8).filter(assert_true(
        spark_partition_id() =!= 7, lit("fail mid-write")).isNull)
      intercept[Exception](
        Sinks.writeDateTimeBucketed(failing, "ts", out, "job-a"))
      assert(files() == before, "the failed job changed the destination")
      Sinks.writeDateTimeBucketed(events, "ts", out, "job-a")
      assert(s.read.parquet(s"$out/job-a").count() == 2 * events.count())
      assert(files().forall(_.startsWith("job-a/")), "staging left behind")
    } finally {
      prev.fold(hc.unset(key))(hc.set(key, _))
      events.unpersist()
    }
  }

  test("co-bucketed tables join with ZERO exchanges") {
    val s = spark
    import s.implicits._
    val orders = Tables.load(s, sf0001, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val lineitem = Tables.load(s, sf0001, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevBc = s.conf.get(bcKey)
    try {
      // inside the try so a failed second write still drops the first
      // table in the finally (DROP IF EXISTS tolerates the missing one)
      Sinks.writeBucketedTable(orders, "orders_b", Seq("o_orderkey"), 8)
      Sinks.writeBucketedTable(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b", Seq("o_orderkey"), 8)
      // at this test size Catalyst would just broadcast (correct, but
      // it exercises nothing); disable broadcast to plan the join the
      // way a 100 TB x 10 TB pair would — where bucketing is the only
      // alternative to shuffling both sides
      s.conf.set(bcKey, "-1")
      val joined = s.table("lineitem_b")
        .join(s.table("orders_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      // the whole point: both sides arrive pre-partitioned by the
      // write-time bucketing, so the join plans with NO shuffle at all
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must be shuffle-free:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      // and it is still the right answer
      val expected = lineitem
        .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
        .count()
      assert(joined.count() == expected)
    } finally {
      s.conf.set(bcKey, prevBc)
      s.sql("DROP TABLE IF EXISTS orders_b")
      s.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("sized parquet write picks file count from plan stats, keeps rows") {
    val s = spark
    val li = Tables.load(s, sf001, "lineitem")
    val est = li.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = (est / 4).toLong.max(1L)
    val out = java.nio.file.Files
      .createTempDirectory("graft_sized_write").toString
    val n = Sinks.writeSizedParquet(li, s"$out/flat", target)
    // ceil(est/target) with est ~= 4*target → 4 or 5 files chosen
    assert(n >= 4 && n <= 5, n.toString)
    val files = new java.io.File(s"$out/flat").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == n, files.length.toString)
    assert(s.read.parquet(s"$out/flat").count() == li.count())

    // sorted variant: files cover disjoint key ranges (range
    // partitioning), the layout row-group skipping needs
    val n2 = Sinks.writeSizedParquet(li, s"$out/sorted", target,
      sortCols = Seq("l_orderkey"))
    val perFile = s.read.parquet(s"$out/sorted")
      .select(org.apache.spark.sql.functions
        .input_file_name().as("f"), org.apache.spark.sql.functions
        .col("l_orderkey"))
      .groupBy("f")
      .agg(org.apache.spark.sql.functions.min("l_orderkey").as("lo"),
        org.apache.spark.sql.functions.max("l_orderkey").as("hi"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(perFile.length == n2)
    perFile.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2, "ranges overlap")
      case _ => ()
    }
    assert(s.read.parquet(s"$out/sorted").count() == li.count())
  }

  test("sized write over a stats-less plan falls back, not 1M files") {
    val s = spark
    // LogicalRDD leaf: stats report spark.sql.defaultSizeInBytes
    // (Long.MaxValue) — without the sentinel fallback ceil(est/target)
    // hits the 1M-file cap on 1000 rows
    val rdd = s.sparkContext.parallelize(
      (0 until 1000).map(i => org.apache.spark.sql.Row(i.toLong)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val df = s.createDataFrame(rdd, schema)
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(Long.MaxValue) / 2000, "premise: stats are the sentinel")
    val out = java.nio.file.Files
      .createTempDirectory("graft_sized_rdd").toString
    val n = Sinks.writeSizedParquet(df, s"$out/flat")
    assert(n == 1, s"fallback should size 1000 longs into 1 file, got $n")
    assert(s.read.parquet(s"$out/flat").count() == 1000)
  }
}
