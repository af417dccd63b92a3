package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.store.Store

/** The store commit protocol (`graft.store.Store`: append, the full
  * write, compaction through that write) with no Spark: tables are
  * written by a fake writer that lays down tiny text files named the
  * way Spark names its parts (`part-NNNNN-<uuid>.parquet`), over a
  * [[FaultFs]].
  *
  * Each generated sequence (a full write, then appends of 1–3 tables
  * of 1–2 files, replays of a committed or a killed tag, compactions
  * and reads, then a replay of every tag still uncommitted) runs once
  * without a fault to get its file system call trace; then, for EVERY
  * call index, the sequence runs again with the file system killed at
  * that call. A read right after the kill must equal the last
  * committed state of a model that knows only which batches
  * committed. The writer then restarts on a fresh file system,
  * replays the killed operation and finishes the sequence, and every
  * batch must be read exactly once, with no orphan left in a table.
  *
  * Commit point: every operation commits with the record's atomic
  * move, after its files have landed. The move is not a file system
  * call; it follows the create of the record's temp file and precedes
  * a full write's first listing of the store dir. A kill before it
  * leaves the operation uncommitted; a kill after it, in a full
  * write's or a compaction's sweep, leaves the operation committed
  * with litter that its restart sweeps. After every
  * restarted sequence the store dir holds only the record, its tables
  * and the files they list, and its parent holds only the store dir. */
class StoreProtocolSpec extends AnyFunSuite {
  import StoreProtocolSpec._

  private val Kind = "proto"
  private val Tables = Seq("a", "b", "c")

  private def batch(tag: String, files: Seq[(String, Int)]): Batch =
    files.map { case (table, n) =>
      table -> (0 until n).map(j => Seq(0, 1).map(r => s"$tag.$table.$j.$r"))
    }

  private def rowCount(b: Batch): Long = b.map(_._2.map(_.size).sum).sum.toLong

  private def show(op: Op): String = {
    def files(b: Batch) = b.map { case (t, fs) => s"$t×${fs.size}" }.mkString(" ")
    op match {
      case Create(tag, b) => s"Create($tag: ${files(b)})"
      case Append(tag, b) => s"Append($tag: ${files(b)})"
      case Crash(tag, b, at) => s"Crash($tag: ${files(b)} @$at)"
      case other => other.toString
    }
  }

  private val filesGen: Gen[Seq[(String, Int)]] = for {
    k <- Gen.choose(1, 3)
    names <- Gen.pick(k, Tables)
    counts <- Gen.listOfN(k, Gen.choose(1, 2))
  } yield names.toSeq.sorted.zip(counts)

  private val drawnGen: Gen[Drawn] = Gen.frequency(
    4 -> filesGen.map(DAppend(_)),
    2 -> Gen.zip(filesGen, Gen.choose(0, 30)).map { case (f, at) => DCrash(f, at) },
    3 -> Gen.choose(0, 99).map(DReplay(_)),
    2 -> Gen.const(DRead),
    2 -> Gen.const(DCompact))

  /** Sequence `i`: a full write, 6 drawn operations, a convergence. A
    * replay names a tag of an earlier append (committed or killed). */
  private def sequence(i: Int): Seq[Op] = {
    val drawn = Gen.listOfN(6, drawnGen)(Gen.Parameters.default, Seed(9090L + i))
      .getOrElse(fail(s"sequence $i: generator produced nothing"))
    val first = Create("t0", batch("t0", Seq("a" -> 2)))
    val batches = scala.collection.mutable.LinkedHashMap("t0" -> first.batch)
    val ops = drawn.zipWithIndex.map { case (d, j) =>
      val tag = s"t${j + 1}"
      d match {
        case DAppend(f) => batches(tag) = batch(tag, f); Append(tag, batches(tag))
        case DCrash(f, at) => batches(tag) = batch(tag, f); Crash(tag, batches(tag), at)
        case DReplay(p) =>
          val t = batches.keys.toVector(p % batches.size)
          Append(t, batches(t))
        case DCompact => Compact
        case DRead => Read
      }
    }
    (first +: ops) :+ Converge
  }

  /** The fake table writer: one text file per entry of `files`, then
    * Spark's `_SUCCESS` marker. */
  private def writer(fs: FileSystem, files: Seq[Seq[String]]): Store.TableWriter =
    dir => {
      fs.mkdirs(dir)
      files.zipWithIndex.foreach { case (rows, j) =>
        val out = fs.create(
          new Path(dir, f"part-$j%05d-${java.util.UUID.randomUUID}.parquet"), false)
        try out.write(rows.mkString("\n").getBytes(UTF_8)) finally out.close()
      }
      fs.create(new Path(dir, "_SUCCESS"), false).close()
    }

  private def lines(fs: FileSystem, file: Path): Seq[String] = {
    val in = fs.open(file)
    try new String(in.readAllBytes(), UTF_8).split("\n").toSeq.filter(_.nonEmpty)
    finally in.close()
  }

  private def readState(fs: FileSystem, dir: Path): Option[State] =
    Store.read(fs, dir).map { rec =>
      State(rec.tables.map { case (name, t) =>
        name -> t.files.flatMap(f => lines(fs, new Path(dir, s"$name/$f"))).sorted
      }.filter(_._2.nonEmpty), rec.long("rows"), rec.applied.keySet)
    }

  /** [[readState]] by a reader that must not fail. */
  private def readBy(fs: FileSystem, dir: Path, where: => String): Option[State] =
    try readState(fs, dir)
    catch { case e: java.io.IOException => fail(s"$where: the read failed: $e", e) }

  /** The model: the batches that committed, and whether the store exists. */
  private final class Model {
    var created = false
    val committed = scala.collection.mutable.LinkedHashMap.empty[String, Batch]
    val attempted = scala.collection.mutable.LinkedHashMap.empty[String, Batch]
    def state: Option[State] =
      if (!created) None
      else Some(State(
        committed.values.flatten.groupBy(_._1).map { case (t, bs) =>
          t -> bs.flatMap(_._2.flatten).toSeq.sorted
        }.filter(_._2.nonEmpty),
        committed.values.map(rowCount).sum,
        committed.keySet.toSet))
  }

  private def append(fs: FileSystem, dir: Path, tag: String, b: Batch): Int =
    Store.append(fs, dir, Store.require(fs, dir), tag,
      b.map { case (t, files) => t -> writer(fs, files) },
      Map("rows" -> rowCount(b)))

  /** Run `op` on `fs` and fold its outcome into `m`. */
  private def run(op: Op, fs: FileSystem, dir: Path, m: Model,
      where: => String): Unit = op match {
    case Create(tag, b) =>
      m.attempted(tag) = b
      Store.write(fs, dir, Kind, Map("rows" -> rowCount(b)),
        Map(tag -> Map("rows" -> rowCount(b)))) { st =>
        b.foreach { case (t, files) => st.table(t, Nil)(writer(fs, files)) }
      }
      m.created = true; m.committed(tag) = b
    case Append(tag, b) => applyOnce(fs, dir, m, tag, b, where)
    case Crash(tag, b, at) =>
      m.attempted(tag) = b
      val dying = FaultFs().killAt(at)
      try {
        append(dying, dir, tag, b)
        m.committed(tag) = b // the append ran out before call `at`
      } catch { case _: FaultFs.Killed => () }
    case Compact =>
      Store.compact(fs, dir) { (rec, name) => staged =>
        val rows = rec.files(name).flatMap(f => lines(fs, new Path(dir, s"$name/$f")))
        writer(fs, rows.grouped(3).toSeq)(staged)
      }
    case Read =>
      assert(readBy(fs, dir, where) === m.state, s"$where: read")
    case Converge =>
      m.attempted.keys.filterNot(m.committed.contains).toSeq.foreach { tag =>
        applyOnce(fs, dir, m, tag, m.attempted(tag), where)
      }
  }

  private def applyOnce(fs: FileSystem, dir: Path, m: Model, tag: String,
      b: Batch, where: => String): Unit = {
    m.attempted(tag) = b
    val gen = Store.require(fs, dir).generation
    val n = append(fs, dir, tag, b)
    if (m.committed.contains(tag)) {
      assert(n === 0, s"$where: replay of committed $tag appended files")
      assert(Store.require(fs, dir).generation === gen,
        s"$where: replay of committed $tag raised the generation")
    } else {
      assert(n === b.map(_._2.size).sum, s"$where: $tag")
      m.committed(tag) = b
    }
  }

  /** After the sequence: the store's parent holds only the store, the
    * store dir only the record and its tables, and every table exactly
    * its committed files (no orphan, no staging dir). */
  private def assertClean(fs: FileSystem, dir: Path, where: String): Unit = {
    val rec = Store.require(fs, dir)
    def names(p: Path) = fs.listStatus(p).map(_.getPath.getName).toSet
    assert(names(dir.getParent) === Set(dir.getName),
      s"$where: litter beside the store")
    assert(names(dir) === rec.tables.keySet + Store.RecordFile,
      s"$where: the store holds more than its record and tables")
    rec.tables.foreach { case (name, t) =>
      assert(names(new Path(dir, name)) === t.files.toSet,
        s"$where: table $name holds orphans")
    }
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Run sequence `seq` whole, and then once per call index with the
    * file system killed there. Returns the number of kill points. */
  private def exhaust(i: Int, seq: Seq[Op], scratch: java.io.File): Int = {
    def fresh(name: String): Path = {
      val d = new java.io.File(scratch, name)
      deleteTree(d); d.mkdirs()
      new Path(d.getAbsolutePath, "store")
    }
    // the fault-free run: its trace, and the first call after the first
    // write's commit (the listing of the store dir that starts its
    // sweep)
    val clean = FaultFs()
    val dir0 = fresh("clean")
    val m0 = new Model
    seq.foreach(op => run(op, clean, dir0, m0, s"sequence $i, no kill"))
    val trace = clean.calls.toVector
    assert(readBy(clean, dir0, s"sequence $i") === m0.state,
      s"sequence $i, no kill: final read")
    assertClean(clean, dir0, s"sequence $i, no kill")
    val createCommitted = trace.indexWhere { case (name, ps) =>
      name == "listStatus" && ps.head == dir0 }
    assert(createCommitted >= 0, s"sequence $i: no sweep in $trace")

    trace.indices.foreach { k =>
      val where = s"sequence $i ${seq.map(show).mkString("[", ", ", "]")}, kill at call $k " +
        s"(${trace(k)._1} ${trace(k)._2.map(_.getName).mkString(" ")})"
      val dir = fresh("kill")
      val fs = FaultFs().killAt(k)
      val m = new Model
      var killed = -1
      seq.indices.iterator.takeWhile(_ => killed < 0).foreach { j =>
        try run(seq(j), fs, dir, m, where)
        catch { case _: FaultFs.Killed => killed = j }
      }
      assert(killed >= 0, s"$where: the sequence ran out before call $k")
      assert(fs.calls.map(_._1).take(k) === trace.map(_._1).take(k),
        s"$where: the killed run's calls differ from the trace")
      if (seq(killed).isInstanceOf[Create] && k >= createCommitted) {
        m.created = true; m.committed("t0") = m.attempted("t0")
      }

      val reader = FaultFs()
      assert(readBy(reader, dir, where) === m.state, s"$where: read after the kill")
      // the restart: the killed operation runs again and the sequence
      // finishes
      seq.drop(killed).foreach(op => run(op, reader, dir, m, where + ", restarted"))
      assert(readBy(reader, dir, where) === m.state, s"$where: final read")
      assert(m.committed.keySet === m.attempted.keySet, s"$where: unconverged")
      assertClean(reader, dir, where)
    }
    trace.size
  }

  test("store protocol: every kill point of 24 generated append/replay/compact/read sequences reads the last committed state, and the restarted sequence reads every batch exactly once") {
    val scratch = java.nio.file.Files.createTempDirectory("graft-protocol").toFile
    // the cases are file-system bound: sequences run 4 at a time, each
    // in its own directory
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val points = (0 until 24).map { i =>
        pool.submit(() => exhaust(i, sequence(i), new java.io.File(scratch, s"s$i")))
      }.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
      info(s"kill points per sequence: ${points.mkString(" ")} (${points.sum} in all)")
    } finally {
      pool.shutdownNow()
      deleteTree(scratch)
    }
  }

  test("a full write sweeps what its record does not name: a dropped table, the old generation, stray files of a dir first written as a store") {
    val scratch = java.nio.file.Files.createTempDirectory("graft-sweep").toFile
    try {
      val fs = FaultFs()
      val dir = new Path(scratch.getAbsolutePath, "store")
      // a first write into a dir that holds stray files and dirs
      fs.mkdirs(new Path(dir, "stray-dir/nested"))
      fs.create(new Path(dir, "stray.txt"), false).close()
      fs.create(new Path(dir, ".hidden"), false).close()
      fs.create(new Path(dir, "a/stray.parquet"), false).close()
      def write(tables: Seq[String]): Unit =
        Store.write(fs, dir, Kind, Map("rows" -> 0L), Map.empty) { st =>
          tables.foreach(t => st.table(t, Nil)(writer(fs, Seq(Seq(s"$t.row")))))
        }
      def names(p: Path) = fs.listStatus(p).map(_.getPath.getName).toSet
      write(Seq("a", "b", "c"))
      val first = Store.require(fs, dir)
      assert(names(dir) === Set(Store.RecordFile, "a", "b", "c"))
      assert(names(new Path(dir, "a")) === first.files("a").toSet)
      assert(names(new Path(scratch.getAbsolutePath)) === Set("store"))
      // a full write whose stage drops table c
      write(Seq("a", "b"))
      val second = Store.require(fs, dir)
      assert(second.generation === first.generation + 1)
      assert(names(dir) === Set(Store.RecordFile, "a", "b"))
      Seq("a", "b").foreach { t =>
        assert(names(new Path(dir, t)) === second.files(t).toSet)
        assert(second.files(t).forall(_.startsWith(s"g${second.generation}-")))
      }
    } finally deleteTree(scratch)
  }

  test("FaultFs: the call at killAt and every later call throw, cleanup included") {
    val scratch = java.nio.file.Files.createTempDirectory("graft-faultfs").toFile
    try {
      val dir = new Path(scratch.getAbsolutePath, "d")
      val fs = FaultFs().killAt(1)
      assert(fs.mkdirs(dir))
      intercept[FaultFs.Killed](fs.create(new Path(dir, "f"), false))
      intercept[FaultFs.Killed](fs.delete(dir, true))
      assert(fs.calls.map(_._1) === Seq("mkdirs", "create", "delete"))
      assert(new java.io.File(scratch, "d").isDirectory)
      assert(new java.io.File(scratch, "d").list().isEmpty)
    } finally deleteTree(scratch)
  }
}

object StoreProtocolSpec {
  /** A batch: per table, the rows of each of its files. */
  type Batch = Seq[(String, Seq[Seq[String]])]

  sealed trait Op
  /** The store's first full write, batch `tag`. */
  final case class Create(tag: String, batch: Batch) extends Op
  /** An append of `batch` under `tag`; a replay when `tag` ran before. */
  final case class Append(tag: String, batch: Batch) extends Op
  /** An append whose process dies at call `at` of its own. */
  final case class Crash(tag: String, batch: Batch, at: Int) extends Op
  case object Compact extends Op
  case object Read extends Op
  /** Replay every tag that ran and did not commit. */
  case object Converge extends Op

  sealed trait Drawn
  final case class DAppend(files: Seq[(String, Int)]) extends Drawn
  final case class DCrash(files: Seq[(String, Int)], at: Int)
      extends Drawn
  final case class DReplay(pick: Int) extends Drawn
  case object DCompact extends Drawn
  case object DRead extends Drawn

  /** What a reader sees: per table the rows of its committed files, the
    * `rows` param, the applied tags. */
  final case class State(tables: Map[String, Seq[String]], rows: Long,
      applied: Set[String])
}
