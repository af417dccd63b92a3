package graft.core

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's standard configuration.
  *
  * Mirrors the role of Samza's container/config bootstrap
  * (reference: samza-core/.../container/SamzaContainer — config-driven
  * runtime wiring), re-expressed as Spark session conf. Tuned for
  * local[N] testing but with settings that carry to a real cluster:
  * AQE on (runtime re-planning, skew-join handling), shuffle
  * partitions sized to the env, UTC session time, and the `file:`
  * scheme bound to [[LocalFs]] for both Hadoop APIs
  * ([[fileSystemConf]]).
  */
object GraftSession {
  /** The `spark.hadoop.*` entries that bind the `file:` scheme to
    * [[LocalFs]] — `fs.file.impl` for the FileSystem API and
    * `fs.AbstractFileSystem.file.impl` for FileContext, which Spark's
    * offset/commit logs and state-store checkpoint use — less any key
    * `preset` already sets: an explicit binding stays in place.
    * latbench's traced runs set `-Dspark.hadoop.fs.file.impl` to their
    * counting `LocalFileSystem`, so their serve and ingest file writes
    * keep the stock file system's `chmod` forks, while their
    * FileContext logs and state use this binding. */
  def fileSystemConf(preset: SparkConf): Seq[(String, String)] =
    Seq("spark.hadoop.fs.file.impl" -> classOf[LocalFs.Fs],
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.Afs])
      .collect { case (k, c) if !preset.contains(k) => k -> c.getName }

  def apply(appName: String = "graft",
            master: Option[String] = None,
            shufflePartitions: Option[Int] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.map(_.toString).getOrElse(cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // v2 moves each task's output into the destination as the task
      // commits, so a failed job leaves its committed tasks' files
      // visible. The writes that rely on it tolerate that: store tables
      // (graft.store.Store) are written under a staging dir and stay
      // unlisted until the store record commits, and serve outputs
      // (StreamJobs' lookup streams) overwrite their batch_id=<id> dir
      // when the checkpoint replays the batch.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    // builder options override the -Dspark.* properties the SparkConf
    // below reads, so only the keys the caller left unset are bound
    fileSystemConf(new SparkConf()).foreach { case (k, v) => b.config(k, v) }
    master.orElse(sys.env.get("SPARK_GRAFT_MASTER")).foreach(b.master)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
