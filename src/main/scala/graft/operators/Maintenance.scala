package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** ONE maintenance entry point for every append-mode store this
  * library persists. Stores accumulate files and layout drift BY
  * DESIGN — O(batch) appends never rewrite the corpus-sized table —
  * and [[compactAll]] restores them: a directory holding a store
  * record (`graft.store.Store`) dispatches on the record's `kind`,
  * compacts when an append left a table unsorted or a table's files
  * outgrew the bin-pack slack, and re-packs every table sorted on its
  * DECLARED columns (so IVF/IVF-PQ cell ranges survive compaction).
  * Stores whose partials collapse (BM25 df, profile, LM, NB) or whose
  * rows re-distinct (decon set) run their own pass; every other kind
  * takes the generic `Store.compact`. Directories without a record
  * keep the generic-flat and generic-partitioned passes. Crash safety
  * comes from the store record: a compaction lands its files in place
  * and commits with one record rewrite, and the generic passes swap in
  * under `FsUtil.swapInto`. Compaction must run quiesced — no writer
  * beside it, as everywhere.
  *
  * At 100 TB this is the nightly housekeeping job: point it at the
  * index/profile roots, and only the stores that drifted pay a
  * rewrite — an idle store costs one record read and one listing per
  * table. */
object Maintenance {

  /** What [[compactAll]] did to one directory: the detected kind, per
    * inspected table its (filesBefore, filesAfter), and whether a
    * rewrite ran. */
  final case class UnitReport(kind: String,
      tables: Map[String, (Int, Int)], compacted: Boolean)

  /** Inspect each directory, compact what drifted. `slack` bounds
    * tolerated small-file growth: a table whose file count exceeds
    * `slack` × its bin-packed ideal (size target + scan-parallelism
    * floor — `Layout.compact`'s own formula) is re-packed; a store
    * table an append left unsorted is re-packed whatever its file
    * count (its sort layout is what probe-side pruning relies on). */
  def compactAll(spark: SparkSession, dirs: Seq[String],
      targetFileBytes: Long = 128L << 20,
      slack: Double = 2.0): Map[String, UnitReport] = {
    require(slack >= 1.0, "slack must be >= 1")
    dirs.map(d => d -> compactOne(spark, d, targetFileBytes, slack))
      .toMap
  }

  private def compactOne(spark: SparkSession, dir: String,
      target: Long, slack: Double): UnitReport = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(dir)
    require(fs.exists(root), s"compactAll: $dir does not exist")
    graft.store.Store.read(fs, root) match {
      case Some(rec) => storeUnit(spark, fs, dir, rec, target, slack)
      case None =>
        val entries = fs.listStatus(root).toSeq
        val flatParquet = entries.exists(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet"))
        val partitioned = entries.exists(f =>
          f.isDirectory && f.getPath.getName.contains("="))
        if (flatParquet) genericFlat(spark, fs, dir, target, slack)
        else if (partitioned) genericPartitioned(spark, dir, target, slack)
        else throw new IllegalArgumentException(
          s"compactAll: $dir is neither a store (no " +
            s"${graft.store.Store.RecordFile}) nor flat parquet files " +
            "nor name=value partition dirs")
    }
  }

  private def storeUnit(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      rec: graft.store.Store.Record, target: Long,
      slack: Double): UnitReport = {
    val p = spark.sparkContext.defaultParallelism
    val need = rec.tables.exists { case (name, t) =>
      !t.sorted || {
        val sizes = fs.listStatus(new Path(dir, name)).toSeq
          .filter(f => t.files.contains(f.getPath.getName)).map(_.getLen)
        overPacked(sizes, target, p, slack)
      }
    }
    if (need) rec.kind match {
      case TextProfile.Bm25Kind => TextProfile.bm25IndexCompact(spark, dir, target)
      case CorpusProfile.Kind => CorpusProfile.compact(spark, dir, target)
      case LmScore.Kind => LmScore.modelCompact(spark, dir, target)
      case Classify.NbKind => Classify.nbCompact(spark, dir, target)
      case Curation.DeconSetKind => Curation.deconSetCompact(spark, dir, target)
      case _ => graft.store.Store.compact(spark, dir, target)
    }
    val after = if (need) graft.store.Store.require(spark, dir) else rec
    UnitReport(rec.kind, rec.tables.map { case (name, t) =>
      name -> (t.files.size, after.files(name).size)
    }, need)
  }

  private def genericFlat(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String, target: Long,
      slack: Double): UnitReport = {
    val need = overPacked(parquetFiles(fs, dir).map(_.getLen), target,
      spark.sparkContext.defaultParallelism, slack)
    val (before, after) =
      if (need) Layout.compact(spark, dir, target)
      else { val n = fileCount(fs, dir); (n, n) }
    UnitReport("generic-flat", Map("." -> (before, after)), need)
  }

  private def genericPartitioned(spark: SparkSession, dir: String,
      target: Long, slack: Double): UnitReport = {
    // drift-gate PER LEAF (per-leaf floor is 1 — cross-leaf
    // parallelism covers scans) and compact only the drifted ones: an
    // idle store with thousands of already-packed batch_id leaves
    // must cost a listing, not a wholesale re-read + re-write + swap
    // of every leaf on every maintenance run
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val rep = Layout.partitionLeaves(spark, dir).map { case (rel, p) =>
      val files = parquetFiles(fs, p.toString)
      if (overPacked(files.map(_.getLen), target, parallelism = 1, slack))
        rel -> Layout.compact(spark, p.toString, target, minFiles = 1)
      else rel -> (files.size, files.size)
    }.toMap
    UnitReport("generic-partitioned", rep,
      rep.values.exists { case (b, a) => a < b })
  }

  // ── drift rules ────────────────────────────────────────────────────

  private def parquetFiles(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(new Path(path)).toSeq.filter(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))

  private def fileCount(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Int = parquetFiles(fs, path).size

  /** The bin-pack drift rule: file count past `slack` × what
    * `Layout.compact` would produce for these bytes (size target,
    * floored at scan parallelism but never above the current count).
    */
  private def overPacked(sizes: Seq[Long], target: Long,
      parallelism: Int, slack: Double): Boolean =
    sizes.nonEmpty && {
      val ideal = math.max(math.min(sizes.size, parallelism),
        math.ceil(sizes.sum.toDouble / target).toInt)
      sizes.size > slack * ideal
    }
}
