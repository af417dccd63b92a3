package graft.store

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.core.FsUtil

/** The one persisted-store protocol. Every store this library writes
  * (BM25, corpus profile, MinHash, IVF, PQ, IVF-PQ, the decon sets,
  * the bench bloom, the LM and NB models) is a directory of tables
  * (parquet parts, or the bench bloom's one file) plus ONE record,
  * `<dir>/_store.json`:
  *
  *  - `kind` — which store this is (what [[graft.operators.Maintenance]]
  *    dispatches on);
  *  - `generation` — raised by every write, append and compaction (what
  *    [[graft.streaming.ModelCache]] keys on);
  *  - `tables` — per table its declared sort columns, whether it is
  *    still sorted (no append landed since the last sorted write), and
  *    the committed data files;
  *  - `params` — the store's scalars (BM25 docs/tokens/idCol, LM vocab…);
  *  - `applied` — every appended tag with its per-tag contributions.
  *
  * The record IS the commit point, and every write commits the same
  * way: land the files, rewrite the record, clean up. Landing writes
  * each table into a hidden `.<table>-<prefix>staging` dir at the
  * store root and renames its data files into the live table dir
  * under a prefix unique to the write: `ingest-<tag>-` for an append,
  * `g<generation>-` for a full write or a compaction. Files the
  * record does not list are invisible to every reader. The record
  * rewrite ([[FsUtil.writeSidecar]], atomic) then commits: a reader
  * sees the old snapshot or the new one, never none. An append's tag
  * already in `applied` is a no-op, and a landed file the record does
  * not list is a killed attempt's orphan, purged when the same prefix
  * lands again. A full write then sweeps the store dir before it
  * returns: every entry the new record does not name goes (old
  * generations' files, tables the write dropped, staging dirs,
  * crashed attempts' orphans, stray files of a dir first written as a
  * store), so the dir holds only the record, its tables and their
  * listed files.
  *
  * Single writer per store: appends, full writes and compactions of
  * one store never run beside each other (store dirs are per query or
  * per job), and a full write deletes the previous generation's files,
  * so it must not run beside a reader of the old snapshot either.
  *
  * The protocol runs on a `FileSystem` and a [[TableWriter]] per table
  * (`Path => Unit`, one table's data files into a fresh directory): the
  * Spark entry points pass a parquet write, and `StoreProtocolSpec`
  * passes a writer of tiny text files and kills the file system at
  * every call of generated append / replay / compact / read sequences.
  * Reference analog: the changelog-backed store that is never
  * observable half-written
  * (samza-kv/src/main/scala/org/apache/samza/storage/kv/LoggedStore.scala:1). */
object Store {

  val RecordFile = "_store.json"

  final case class Table(sortCols: Seq[String], sorted: Boolean,
      files: Seq[String])

  final case class Record(kind: String, generation: Long,
      tables: Map[String, Table], params: Map[String, Any],
      applied: Map[String, Map[String, Long]]) {
    private def param(k: String): Any = params.getOrElse(k,
      throw new java.io.IOException(s"$kind store record lacks param $k"))
    def long(k: String): Long = param(k) match {
      case v: Long => v
      case v: Int => v.toLong
      case v => throw new java.io.IOException(
        s"$kind store param $k is not an integer: $v")
    }
    def int(k: String): Int = long(k).toInt
    def bool(k: String): Boolean = param(k).asInstanceOf[Boolean]
    def str(k: String): String = param(k).toString
    def files(table: String): Seq[String] =
      tables.get(table).map(_.files).getOrElse(Nil)
    /** No append landed since the last full (sorted) write. */
    def compacted: Boolean = tables.values.forall(_.sorted)
  }

  private val mapper = new ObjectMapper()

  private[graft] def toJson(r: Record): String = {
    val root = mapper.createObjectNode()
    root.put("kind", r.kind)
    root.put("generation", r.generation)
    val ts = root.putObject("tables")
    r.tables.toSeq.sortBy(_._1).foreach { case (name, t) =>
      val o = ts.putObject(name)
      val sc = o.putArray("sortCols")
      t.sortCols.foreach(c => sc.add(c))
      o.put("sorted", t.sorted)
      val fs = o.putArray("files")
      t.files.foreach(f => fs.add(f))
    }
    val ps = root.putObject("params")
    r.params.toSeq.sortBy(_._1).foreach {
      case (k, v: Long) => ps.put(k, v)
      case (k, v: Int) => ps.put(k, v.toLong)
      case (k, v: Double) => ps.put(k, v)
      case (k, v: Boolean) => ps.put(k, v)
      case (k, v: String) => ps.put(k, v)
      case (k, v) => throw new IllegalArgumentException(
        s"store param $k: unsupported value $v")
    }
    val ap = root.putObject("applied")
    r.applied.toSeq.sortBy(_._1).foreach { case (tag, c) =>
      val o = ap.putObject(tag)
      c.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    }
    mapper.writeValueAsString(root)
  }

  private[graft] def fromJson(json: String): Record = {
    val n = mapper.readTree(json)
    def fields(o: JsonNode): Seq[(String, JsonNode)] =
      o.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
    def strings(a: JsonNode): Seq[String] =
      a.elements().asScala.map(_.asText).toSeq
    Record(
      n.get("kind").asText,
      n.get("generation").asLong,
      fields(n.get("tables")).map { case (name, t) =>
        name -> Table(strings(t.get("sortCols")), t.get("sorted").asBoolean,
          strings(t.get("files")))
      }.toMap,
      fields(n.get("params")).map { case (k, v) =>
        k -> (if (v.isIntegralNumber) v.asLong
          else if (v.isNumber) v.asDouble
          else if (v.isBoolean) v.asBoolean
          else v.asText)
      }.toMap,
      fields(n.get("applied")).map { case (tag, c) =>
        tag -> fields(c).map { case (k, v) => k -> v.asLong }.toMap
      }.toMap)
  }

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The record at `dir`, or None when `dir` holds no store. */
  def read(fs: FileSystem, dir: Path): Option[Record] =
    FsUtil.readSidecar(fs, new Path(dir, RecordFile)).map(fromJson)

  def read(spark: SparkSession, dir: String): Option[Record] =
    read(fsOf(spark, dir), new Path(dir))

  /** The record at `dir`; fails fast when `dir` holds no store, or a
    * store of another kind than one of `kinds` (when given). */
  def require(fs: FileSystem, dir: Path, kinds: String*): Record = {
    val r = read(fs, dir).getOrElse(throw new java.io.IOException(
      s"$dir holds no store record ($RecordFile) — not a " +
        (if (kinds.isEmpty) "store" else kinds.mkString(" / ")) + " dir"))
    if (kinds.nonEmpty && !kinds.contains(r.kind))
      throw new java.io.IOException(
        s"$dir holds a ${r.kind} store, not a ${kinds.mkString(" / ")}")
    r
  }

  def require(spark: SparkSession, dir: String, kinds: String*): Record =
    require(fsOf(spark, dir), new Path(dir), kinds: _*)

  /** The store's generation, -1 when `dir` holds no store — one small
    * read, the whole staleness probe of a cached model. */
  def generation(spark: SparkSession, dir: String): Long =
    read(spark, dir).map(_.generation).getOrElse(-1L)

  /** Table `name` of snapshot `rec`: exactly the committed files. A
    * table with no committed file yet is empty, with the schema of
    * whatever files sit in its directory (a first append that crashed
    * before its commit leaves only orphans). */
  def table(spark: SparkSession, dir: String, rec: Record,
      name: String): DataFrame = {
    val files = rec.files(name)
    if (files.nonEmpty)
      spark.read.parquet(files.map(f => s"$dir/$name/$f"): _*)
    else spark.read.parquet(s"$dir/$name").where(lit(false))
  }

  /** Writes one table's data files into the fresh directory it is
    * given — the seam between the commit protocol and the data path.
    * The Spark entry points pass a parquet write ([[parquet]],
    * `Sinks.writeSizedParquet`). */
  type TableWriter = Path => Unit

  private def parquet(df: DataFrame): TableWriter =
    p => df.write.mode(SaveMode.Overwrite).parquet(p.toString)

  /** A full write in progress: each table written through it lands in
    * the store's live table dir under the write's prefix and is
    * registered in the record being staged. */
  final class Staging private[store] (fs: FileSystem, dir: Path,
      prefix: String) {
    private[store] val tables =
      scala.collection.mutable.LinkedHashMap.empty[String, Table]
    private[store] val params =
      scala.collection.mutable.LinkedHashMap.empty[String, Any]

    /** A param derived from the staged tables (an LM model's exact
      * vocab), recorded beside the write's own params. */
    def param(key: String, value: Any): Unit = params(key) = value

    /** Table `name` as `writer` lays it down, its files declared
      * sorted on `sortCols` in the record. */
    def table(name: String, sortCols: Seq[String])(writer: TableWriter): Unit =
      tables(name) = Table(sortCols, sorted = true,
        land(fs, dir, name, prefix, Nil, writer))

    /** A sized table, range-partitioned and sorted on `sortCols`
      * (`Sinks.writeSizedParquet`); the sort columns are declared in
      * the record, so compaction restores the same layout. `minFiles`
      * -1 is the session's default parallelism. */
    def sized(name: String, df: DataFrame, sortCols: Seq[String] = Nil,
        targetFileBytes: Long = 128L << 20, minFiles: Int = -1,
        scaleFloor: Boolean = true): Unit =
      table(name, sortCols) { p =>
        graft.sources.Sinks.writeSizedParquet(df, p.toString,
          targetFileBytes, sortCols,
          if (minFiles >= 0) minFiles
          else df.sparkSession.sparkContext.defaultParallelism,
          scaleFloor)
      }

    /** A driver-small table written as Spark partitions it. */
    def plain(name: String, df: DataFrame): Unit =
      table(name, Nil)(parquet(df))

    /** Re-read a table already staged here: the files it landed. */
    def staged(spark: SparkSession, name: String): DataFrame =
      spark.read.parquet(tables(name).files.map(f => s"$dir/$name/$f"): _*)
  }

  /** Replace the store at `dir` wholesale: `stage` lands the tables,
    * the record (generation = old + 1, `applied` carried over plus
    * `applied`) commits them, and the sweep deletes what the record
    * does not name. Frames that lazily read the old store are safe to
    * write back: every table lands before the old files are swept. A
    * dir that holds no record is taken over: whatever it held goes. */
  def write(spark: SparkSession, dir: String, kind: String,
      params: Map[String, Any],
      applied: Map[String, Map[String, Long]] = Map.empty)(
      stage: Staging => Unit): Unit =
    write(fsOf(spark, dir), new Path(dir), kind, params, applied)(stage)

  def write(fs: FileSystem, dir: Path, kind: String,
      params: Map[String, Any], applied: Map[String, Map[String, Long]])(
      stage: Staging => Unit): Unit = {
    val old = read(fs, dir)
    val generation = old.map(_.generation).getOrElse(0L) + 1
    // no committed file carries this generation's prefix
    val st = new Staging(fs, dir, s"g$generation-")
    stage(st)
    val rec = Record(kind, generation, st.tables.toMap, params ++ st.params,
      old.map(_.applied).getOrElse(Map.empty) ++ applied)
    FsUtil.writeSidecar(fs, new Path(dir, RecordFile), toJson(rec))
    sweep(fs, dir, rec)
  }

  /** Delete every entry under the store root that `rec` does not name:
    * only the record, its tables and their listed files stay. */
  private def sweep(fs: FileSystem, dir: Path, rec: Record): Unit =
    fs.listStatus(dir).foreach { s =>
      val name = s.getPath.getName
      rec.tables.get(name) match {
        case Some(t) if s.isDirectory =>
          fs.listStatus(s.getPath)
            .filterNot(f => t.files.contains(f.getPath.getName))
            .foreach(f => fs.delete(f.getPath, true))
        case _ => if (name != RecordFile) fs.delete(s.getPath, true)
      }
    }

  /** The one landing step of appends and full writes: `writer` lays
    * table `name`'s data files down in a hidden staging dir at the
    * store root, and each is renamed into the live table dir as
    * `<prefix><file>`. Files there that carry `prefix` and are not in
    * `listed` (the table's committed files) are a killed attempt's
    * orphans and go first, so a retry never collides with them.
    * Returns the landed names. */
  private def land(fs: FileSystem, root: Path, name: String, prefix: String,
      listed: Seq[String], writer: TableWriter): Seq[String] = {
    val t = new Path(root, name)
    fs.mkdirs(t)
    fs.listStatus(t).map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) && !listed.contains(p.getName))
      .foreach(p => fs.delete(p, false))
    val staging = new Path(root, s".$name-${prefix}staging")
    fs.delete(staging, true)
    writer(staging)
    val names = dataFiles(fs, staging).map { p =>
      val n = prefix + p
      if (!fs.rename(new Path(staging, p), new Path(t, n)))
        throw new java.io.IOException(s"rename of $p into $t failed")
      n
    }
    fs.delete(staging, true)
    names
  }

  /** Append `tables` to snapshot `rec` of the store at `dir` under
    * `tag`, committing with one record rewrite: the tag's files join
    * their tables' file lists (which stop being sorted), each
    * `contrib` entry is added to the param of that name, and the tag
    * enters `applied` with `contrib` as its contributions. A tag
    * already applied is a no-op (returns 0); otherwise the files land
    * as `ingest-<tag>-*` (see [[land]]), purging the tag's orphans from
    * a crashed attempt. Returns the number of data files committed.
    *
    * The tag must be unique per logical batch across stream runs —
    * pass runId+batchId, never batchId alone: a later run's fresh
    * checkpoint restarts batch ids at 0, and its batch-0 would be
    * taken for the first run's. Tags are [A-Za-z0-9_.-]+. Single
    * writer per store: `rec` must be the store's current record. */
  def append(spark: SparkSession, dir: String, rec: Record, tag: String,
      tables: Seq[(String, DataFrame)],
      contrib: Map[String, Long] = Map.empty): Int =
    append(fsOf(spark, dir), new Path(dir), rec, tag,
      tables.map { case (name, df) => name -> parquet(df) }, contrib)

  def append(fs: FileSystem, root: Path, rec: Record, tag: String,
      tables: Seq[(String, TableWriter)], contrib: Map[String, Long]): Int = {
    Predef.require(tag.nonEmpty && tag.forall(c =>
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_' || c == '.' || c == '-'),
      s"append tag must be [A-Za-z0-9_.-]+, got '$tag'")
    if (rec.applied.contains(tag)) return 0
    val added = tables.map { case (name, writer) =>
      name -> land(fs, root, name, s"ingest-$tag-", rec.files(name), writer)
    }
    val next = rec.copy(
      generation = rec.generation + 1,
      tables = rec.tables ++ added.map { case (name, names) =>
        val t = rec.tables.getOrElse(name, Table(Nil, sorted = true, Nil))
        name -> t.copy(sorted = t.sorted && names.isEmpty,
          files = t.files ++ names)
      },
      params = rec.params ++ contrib.map { case (k, v) =>
        k -> (rec.params.get(k).map(_ => rec.long(k)).getOrElse(0L) + v)
      },
      applied = rec.applied + (tag -> contrib))
    FsUtil.writeSidecar(fs, new Path(root, RecordFile), toJson(next))
    added.map(_._2.size).sum
  }

  /** A fresh tag for a one-shot batch append (not replay-idempotent —
    * the streaming paths pass runId+batchId instead). */
  def freshTag(): String = s"append-${java.util.UUID.randomUUID}"

  /** Quiesced re-pack through [[write]]: rewrite every table of the
    * current snapshot in place as sized files sorted on its declared
    * columns, committed by the record, keeping kind, params
    * and applied tags — so a tag committed before the compaction still
    * replays as a no-op after it. A table never drops below its file
    * count or the scan parallelism, whichever is less
    * (`Layout.compact`'s floor). Stores whose partial rows collapse
    * compact through their own full write instead. */
  def compact(spark: SparkSession, dir: String,
      targetFileBytes: Long): Unit =
    compact(fsOf(spark, dir), new Path(dir)) { (rec, name) =>
      val df = table(spark, dir, rec, name)
      p => graft.sources.Sinks.writeSizedParquet(df, p.toString,
        targetFileBytes, rec.tables(name).sortCols,
        minFiles = math.min(rec.files(name).size,
          spark.sparkContext.defaultParallelism),
        scaleFloor = false)
    }

  /** The protocol half of [[compact]]: `rewrite` gives, for snapshot
    * `rec` and one of its tables, the writer that re-lays that table's
    * committed rows; every table is rewritten through [[write]]. */
  def compact(fs: FileSystem, dir: Path)(
      rewrite: (Record, String) => TableWriter): Unit = {
    val rec = require(fs, dir)
    val writers = rec.tables.map { case (name, _) => name -> rewrite(rec, name) }
    write(fs, dir, rec.kind, rec.params, Map.empty) { st =>
      rec.tables.foreach { case (name, t) =>
        st.table(name, t.sortCols)(writers(name))
      }
    }
  }

  /** Data-file names directly under `dir` (every visible file: Spark's
    * parquet parts, the bench bloom's one file), sorted. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[String] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath.getName)
      .filter(n => !n.startsWith(".") && !n.startsWith("_"))
      .sorted
}
