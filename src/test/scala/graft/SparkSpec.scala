package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for the suite: one local JVM session, UTC, small
  * shuffle partitioning (matches Verify's environment). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"
  /** The store record at `dir` (`graft.store.Store`). */
  def storeRecord(dir: String): graft.store.Store.Record =
    graft.store.Store.require(spark, dir)

  /** The store record's JSON at `dir` — a snapshot [[uncommit]] can
    * put back. */
  def recordJson(dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir, graft.store.Store.RecordFile)
    graft.core.FsUtil.readSidecar(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).get
  }

  /** Turn a committed append of `tag` into the state a crash before
    * its commit leaves: the record is put back to `before` (its JSON
    * from just before the append), and of the tag's renamed-in files
    * across every table only the first `keep` by name survive. */
  def uncommit(dir: String, before: String, tag: String,
      keep: Int = Int.MaxValue): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.FsUtil.writeSidecar(fs,
      new Path(root, graft.store.Store.RecordFile), before)
    fs.listStatus(root).filter(_.isDirectory)
      .flatMap(d => fs.listStatus(d.getPath)).map(_.getPath)
      .filter(_.getName.startsWith(s"ingest-$tag-part-"))
      .sortBy(_.getName).drop(keep)
      .foreach(p => fs.delete(p, false))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
