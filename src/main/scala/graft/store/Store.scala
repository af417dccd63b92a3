package graft.store

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.core.FsUtil

/** The one persisted-store protocol. Every store this library writes
  * (BM25, corpus profile, MinHash, IVF, PQ, IVF-PQ, the decon sets,
  * the bench bloom, the LM and NB models) is a directory of parquet
  * tables plus ONE record, `<dir>/_store.json`:
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
  * The record IS the commit point. A reader takes one record snapshot
  * and reads only the files it lists, so every table and param it sees
  * comes from one generation. A full write stages the tables and the
  * record together and swaps the directory in ([[FsUtil.swapInto]]).
  * An append renames its tag-named files into the table directories
  * and then commits by rewriting the record ([[FsUtil.writeSidecar]],
  * atomic): a tag already in `applied` is a no-op, and a tag's files
  * the record does not list are a crashed attempt's orphans — invisible
  * to every reader, purged by the replay. Committed files are deleted
  * only by a compaction, which must run quiesced (no writer beside it).
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

  /** A full write's staging directory: each table written through it
    * is registered in the record being staged. */
  final class Staging private[store] (fs: FileSystem, val root: Path) {
    private[store] val tables =
      scala.collection.mutable.LinkedHashMap.empty[String, Table]
    private[store] val params =
      scala.collection.mutable.LinkedHashMap.empty[String, Any]

    /** A param derived from the staged tables (an LM model's exact
      * vocab), recorded beside the write's own params. */
    def param(key: String, value: Any): Unit = params(key) = value

    /** Table `name` as `writer` lays it down, its files declared
      * sorted on `sortCols` in the record. */
    def table(name: String, sortCols: Seq[String])(writer: TableWriter): Unit = {
      writer(new Path(root, name))
      tables(name) = Table(sortCols, sorted = true,
        dataFiles(fs, new Path(root, name)))
    }

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

    /** Re-read a table already staged here. */
    def staged(spark: SparkSession, name: String): DataFrame =
      spark.read.parquet(new Path(root, name).toString)
  }

  /** Replace the store at `dir` wholesale: `stage` writes the tables,
    * the record (generation = old + 1, `applied` carried over plus
    * `applied`) is staged beside them, and the directory swaps in under
    * [[FsUtil.swapInto]]. Frames that lazily read the old store are
    * safe to write back: staging fully materializes before the swap. */
  def write(spark: SparkSession, dir: String, kind: String,
      params: Map[String, Any],
      applied: Map[String, Map[String, Long]] = Map.empty)(
      stage: Staging => Unit): Unit =
    write(fsOf(spark, dir), new Path(dir), kind, params, applied)(stage)

  def write(fs: FileSystem, dir: Path, kind: String,
      params: Map[String, Any], applied: Map[String, Map[String, Long]])(
      stage: Staging => Unit): Unit = {
    val old = read(fs, dir)
    FsUtil.swapInto(fs, dir) { staging =>
      val st = new Staging(fs, staging)
      stage(st)
      val rec = Record(kind, old.map(_.generation).getOrElse(0L) + 1,
        st.tables.toMap, params ++ st.params,
        old.map(_.applied).getOrElse(Map.empty) ++ applied)
      FsUtil.writeSidecar(fs, new Path(staging, RecordFile), toJson(rec))
    }
  }

  /** Append `tables` to snapshot `rec` of the store at `dir` under
    * `tag`, committing with one record rewrite: the tag's files join
    * their tables' file lists (which stop being sorted), each
    * `contrib` entry is added to the param of that name, and the tag
    * enters `applied` with `contrib` as its contributions. A tag
    * already applied is a no-op (returns 0); otherwise the tag's
    * orphans from a crashed attempt are purged first. Returns the
    * number of data files committed.
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
    // \d{5,}: Spark zero-pads task indices to five digits but keeps
    // counting past part-99999
    val mine = java.util.regex.Pattern.compile(
      "ingest-" + java.util.regex.Pattern.quote(tag) +
        "-part-\\d{5,}-.*")
    val added = tables.map { case (name, writer) =>
      val t = new Path(root, name)
      fs.mkdirs(t)
      fs.listStatus(t).map(_.getPath)
        .filter(p => mine.matcher(p.getName).matches())
        .foreach(p => fs.delete(p, false))
      val staging = new Path(root, s".$name-ingest-$tag-staging")
      fs.delete(staging, true)
      writer(staging)
      val names = dataFiles(fs, staging).map { p =>
        val n = s"ingest-$tag-$p"
        if (!fs.rename(new Path(staging, p), new Path(t, n)))
          throw new java.io.IOException(
            s"append: rename of $p into $t failed")
        n
      }
      fs.delete(staging, true)
      name -> names
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

  /** Quiesced re-pack: rewrite every table of the current snapshot as
    * sized files sorted on its declared columns, keeping kind, params
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

  /** Data-file names directly under `dir`, sorted. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[String] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".") &&
        !n.startsWith("_"))
      .sorted
}
