package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** File sink family mirroring the reference's HDFS writers
  * (samza-hdfs/src/main/scala/.../writer/AvroDataFileHdfsWriter.scala,
  * Bucketer.scala, JobNameDateTimeBucketer.scala): job-named output
  * directories with date-time bucketing.
  *
  * Spark-first mapping: a bucket is a partition directory
  * (`bucket_date=<yyyy-MM-dd-HH>`), so downstream scans with a
  * bucket_date predicate read only the matching directories (partition
  * pruning — asserted in SinksSpec). The reference rolls files by
  * size/time inside a bucket (Bucketer.shouldReBucket); Spark's
  * maxRecordsPerFile plays that role declaratively. */
object Sinks {

  val BucketCol = "bucket_date"

  /** Write `df` under `<outDir>/<jobName>/bucket_date=…/` partitioned
    * by the formatted event time of `tsCol`. Append semantics —
    * successive job runs add files to existing buckets, as the
    * reference's append-only HDFS writers do. The job writes into a
    * staging directory beside the destination, and its files move into
    * their buckets only once the job has succeeded: under the
    * session's v2 committer a task's files land at commit time, so a
    * direct append would leave a failed job's committed tasks in the
    * destination, and a rerun would add those rows twice. */
  def writeDateTimeBucketed(df: DataFrame, tsCol: String, outDir: String,
      jobName: String, pattern: String = "yyyy-MM-dd-HH",
      maxRecordsPerFile: Long = 0L): Unit = {
    val dest = new Path(outDir, jobName)
    val fs = dest.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val staging =
      new Path(outDir, s".$jobName-staging-${java.util.UUID.randomUUID}")
    try {
      df.withColumn(BucketCol, date_format(col(tsCol), pattern))
        .write
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy(BucketCol)
        .parquet(staging.toString)
      fs.mkdirs(dest)
      // part-file names carry the write job's id: no two runs collide
      fs.listStatus(staging).filter(_.isDirectory).foreach { bucket =>
        val into = new Path(dest, bucket.getPath.getName)
        fs.mkdirs(into)
        fs.listStatus(bucket.getPath).map(_.getPath)
          .filter(p => !p.getName.startsWith(".") &&
            !p.getName.startsWith("_"))
          .foreach { p =>
            if (!fs.rename(p, new Path(into, p.getName)))
              throw new java.io.IOException(
                s"writeDateTimeBucketed: rename of $p into $into failed")
          }
      }
    } finally fs.delete(staging, true)
  }

  /** Write `df` as a HASH-BUCKETED catalog table: rows land in
    * `numBuckets` files per partition by `hash(keys) % numBuckets`,
    * sorted by the keys within each bucket. This is the CO-LOCATED
    * JOIN route at real scale — two tables bucketed the same way join
    * WITHOUT a shuffle on either side (SortMergeJoin with zero
    * Exchange; SinksSpec pins the plan), which is how a 100 TB fact
    * table joins a 10 TB fact table without moving either: the
    * "shuffle" was paid once at write time and amortizes over every
    * subsequent join. The reference's analog is Kafka's key
    * partitioning, which Samza relies on for co-partitioned
    * stream-stream joins (same contract: producer-side partitioning
    * buys consumer-side join locality). */
  def writeBucketedTable(df: DataFrame, table: String, keys: Seq[String],
      numBuckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Write `df` as parquet aiming for `targetFileBytes` per output
    * file — the output-hygiene pass a 100 TB pipeline needs: a job
    * whose last stage ran at shuffle-partition width otherwise writes
    * thousands of KB-sized files (NameNode pressure, per-file open
    * cost on every downstream scan), and a coalesced single writer is
    * one task doing all the IO. File count comes from CATALYST'S OWN
    * size estimate (`optimizedPlan.stats.sizeInBytes` — no extra
    * action, no sampling job; for a plain scan-transform plan this is
    * file-size-based and conservative vs parquet's re-encoding, so
    * files land at-or-under target). repartition(n) (round-robin)
    * balances rows across writers; the `sortCols` variant instead
    * range-partitions + sorts so each file covers a tight key range —
    * the layout that makes downstream min/max row-group skipping on
    * those columns effective. `minFiles` floors the count: a stored
    * table that DOWNSTREAM scans must parallelize over (an index's
    * posting/code table) should pass the session parallelism — a
    * size-accurate-but-single file otherwise serializes every later
    * scan onto one or two tasks (measured: the BM25 stored-index
    * probe read 914 s vs 147 s fresh at 500k docs off a 1-file
    * posting table).
    *
    * The floor is SIZE-PROPORTIONAL (round-19, guide §6 "small files
    * hurt twice"): `minFiles` applies in full only once the table is
    * estimated big enough that a floored file carries at least
    * [[FloorBytesPerFile]] — below that the floor scales down to
    * ceil(bytes / FloorBytesPerFile), reaching 1 for a near-empty
    * table. Rationale: the parallelism floor exists to keep BIG
    * stored tables scannable in parallel, but applied to a 100 KB
    * store it writes `parallelism` near-empty files whose per-file
    * open/list cost every later read pays (at gate scale that was
    * 32 files × ~40 stored tables per bench run of pure overhead,
    * with zero parallelism gained — a 100 KB table scans in one task
    * regardless of how many files hold it). At the round-12
    * forensics scale that motivated the floor (500k docs, a
    * multi-hundred-MB posting table) the estimate clears
    * minFiles × FloorBytesPerFile and the full floor still applies —
    * PersistenceFilesSpec pins both regimes. `scaleFloor = false`
    * applies `minFiles` in full (a compaction's re-pack, which never
    * drops a table below its file count or the scan parallelism,
    * whichever is less). Returns the ACTUAL
    * data-file count on disk after the write (one listStatus), not
    * the planned partition count: repartitionByRange over
    * skewed/few-distinct sort keys can leave planned partitions
    * empty, and empty partitions write no file. */
  def writeSizedParquet(df: DataFrame, path: String,
      targetFileBytes: Long = 128L << 20,
      sortCols: Seq[String] = Nil, minFiles: Int = 1,
      scaleFloor: Boolean = true): Int = {
    val est = estimatedBytes(df)
    val sizedFloor =
      if (!scaleFloor) math.max(1, minFiles)
      else ((est + FloorBytesPerFile - 1) / FloorBytesPerFile)
        .min(BigInt(math.max(1, minFiles))).toInt
    val n = math.max(plannedCountOf(est, targetFileBytes),
      math.max(1, sizedFloor))
    val shaped =
      if (sortCols.nonEmpty)
        df.repartitionByRange(n, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(n)
    shaped.write.mode(SaveMode.Overwrite).parquet(path)
    val out = new org.apache.hadoop.fs.Path(path)
    out.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .listStatus(out)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
  }

  /** Read table `tableDir` of a store as its record commits it (the
    * record lives in the parent directory — `graft.store.Store`): the
    * committed files only, never a crashed append's orphans. */
  def readTagged(spark: org.apache.spark.sql.SparkSession,
      tableDir: String): DataFrame = {
    val table = new org.apache.hadoop.fs.Path(tableDir)
    val dir = Option(table.getParent).map(_.toString).getOrElse(".")
    graft.store.Store.table(spark, dir, graft.store.Store.require(spark, dir),
      table.getName)
  }

  /** The output file count a sized write should use for `df` at
    * `targetFileBytes` per file — the estimation half of
    * [[writeSizedParquet]], shared with layout passes
    * (`operators.Layout.zorderWrite`) that shape the partitioning
    * themselves. */
  def plannedFileCount(df: DataFrame,
      targetFileBytes: Long = 128L << 20): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    plannedCountOf(estimatedBytes(df), targetFileBytes)
  }

  /** Minimum estimated bytes a file produced by the `minFiles` floor
    * must carry before the floor applies in full — the scale knob of
    * [[writeSizedParquet]]'s size-proportional floor. 256 KB,
    * deliberately tiny relative to the 128 MB file target, because
    * the ESTIMATE runs low on string-heavy tables (Catalyst's
    * width-ratio scaling prices every string at a flat 20 B, so an
    * exploded posting/bigram table can be estimated at a tenth of
    * its real bytes): with a 256 KB budget the full parallelism
    * floor engages by ~8 MB estimated — safely below any table whose
    * single-file layout could throttle a downstream scan (the
    * round-12 914 s case was hundreds of MB) — while a gate-scale
    * store (tens to hundreds of KB estimated) stops shattering into
    * `parallelism` near-empty files. */
  private[graft] val FloorBytesPerFile: Long = 256L << 10

  private def plannedCountOf(estBytes: BigInt,
      targetFileBytes: Long): Int =
    // ceil(est/target), capped at 1M files (a 128 MB target at that
    // cap is 128 TB of output — past it, raise the target instead)
    ((estBytes + targetFileBytes - 1) / targetFileBytes)
      .min(BigInt(1 << 20)).toInt.max(1)

  /** The byte-size estimate behind [[plannedFileCount]] /
    * [[writeSizedParquet]]: Catalyst's own optimized-plan stats when
    * usable, else rowCount × sampled UnsafeRow width (one count job —
    * the honest price of a stats-less input). */
  private[graft] def estimatedBytes(df: DataFrame): BigInt = {
    val statsEst =
      df.queryExecution.optimizedPlan.stats.sizeInBytes.max(BigInt(1))
    // Plans over stats-less leaves (LogicalRDD, some views) report
    // spark.sql.defaultSizeInBytes and the product poisons the whole
    // estimate — ceil would hit the file cap and write ~1M tiny
    // files, the exact pathology this helper exists to avoid. Detect
    // the regime STRUCTURALLY: a leaf whose own size estimate equals
    // the conf default has no real stats (comparing the product
    // against the live conf value broke when a deployment lowered
    // defaultSizeInBytes for broadcast tuning — a 10 GB setting made
    // nearly every sized write pay the fallback). A fixed
    // Long.MaxValue-scale guard stays as a belt for overflow-level
    // products of multiple defaults.
    val confDefault = BigInt(
      df.sparkSession.sessionState.conf.defaultSizeInBytes)
    val statsless =
      df.queryExecution.optimizedPlan.collectLeaves()
        .exists(_.stats.sizeInBytes == confDefault) ||
        statsEst >= BigInt(Long.MaxValue) / 1000
    val estBytes =
      if (!statsless) statsEst
      else {
        // rows x measured row width: rowCount is one count job (the
        // honest price of a stats-less input); width comes from
        // sampling UnsafeRow sizes off the first partitions rather
        // than schema.defaultSize, which badly under-counts
        // variable-width data (StringType counts 20 B flat and
        // ArrayType one element — a 64-dim embedding array of ~512 B
        // real counted ~8 B, blowing files far past target).
        val schemaWidth = math.max(df.schema.defaultSize, 1).toLong
        val sampled = df.queryExecution.toRdd.mapPartitions { it =>
          it.take(64).map {
            case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
              u.getSizeInBytes.toLong
            case _ => schemaWidth
          }
        }.take(256)
        val rowBytes =
          if (sampled.isEmpty) schemaWidth
          else math.max(sampled.sum / sampled.length, 1L)
        val fallback = BigInt(df.count()) * rowBytes
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"plannedFileCount: plan stats unusable ($statsEst); " +
            s"fell back to rowCount*sampledWidth($rowBytes)=$fallback")
        fallback.max(BigInt(1))
      }
    estBytes
  }
}
