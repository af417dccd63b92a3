package graft

import scala.concurrent.{ExecutionContext, Future}
import scala.jdk.CollectionConverters._

import graft.tables.{RemoteTable, TableOps}

class TablesSpec extends SparkSpec {

  private def upsertBatches(dir: String, from: Long, to: Long): Unit = {
    val s = spark
    import s.implicits._
    (from until to).foreach { b =>
      TableOps.upsertSink(s, dir, Seq("k"), "seq")(
        Seq((b % 3, s"v$b", b), (10 + b, s"w$b", b)).toDF("k", "v", "seq"), b)
    }
  }

  private def upsertRows(dir: String): Set[(Long, String, Long)] = {
    val s = spark
    import s.implicits._
    TableOps.readUpsertTable(s, dir).as[(Long, String, Long)].collect().toSet
  }

  test("upsertSink fails on an unreadable committed file instead of replacing the table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert")
      .toString + "/t"
    upsertBatches(dir, 0, 2)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .filter(java.nio.file.Files.isRegularFile(_)).toSeq
    assert(files.nonEmpty)
    java.nio.file.Files.write(files.head, "not parquet".getBytes("UTF-8"))
    intercept[Exception](upsertBatches(dir, 2, 3))
  }

  test("upsertSink: a replayed batch id leaves the table unchanged") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert")
      .toString + "/t"
    upsertBatches(dir, 0, 3)
    val before = upsertRows(dir)
    assert(before == Set((0L, "v0", 0L), (1L, "v1", 1L), (2L, "v2", 2L),
      (10L, "w0", 0L), (11L, "w1", 1L), (12L, "w2", 2L)))
    val gen = storeRecord(dir).generation
    // the replay of batch 1 carries other rows (a nondeterministic
    // source): it must not be applied a second time
    TableOps.upsertSink(s, dir, Seq("k"), "seq")(
      Seq((1L, "replayed", 9L)).toDF("k", "v", "seq"), 1L)
    assert(upsertRows(dir) == before)
    assert(storeRecord(dir).generation == gen)
    upsertBatches(dir, 3, 4)
    assert(upsertRows(dir) == (before -- before.filter(_._1 == 0L)) +
      ((0L, "v3", 3L)) + ((13L, "w3", 3L)))
  }

  test("remote lookup join enriches rows and handles misses") {
    val s = spark
    import s.implicits._
    val ds = Seq(1L, 2L, 3L, 42L).toDS()
    val reader = new RemoteTable.AsyncReader[Long, String] {
      def getAsync(key: Long)(implicit ec: ExecutionContext) =
        Future.successful(if (key < 10) Some(s"v$key") else None)
    }
    val out = RemoteTable.lookupJoin[Long, Long, String](ds, identity, reader)
      .collect().toMap
    assert(out == Map(1L -> Some("v1"), 2L -> Some("v2"),
      3L -> Some("v3"), 42L -> None))
  }

  test("remote lookup retries transient failures") {
    val s = spark
    import s.implicits._
    val ds = Seq(5L).toDS().coalesce(1)
    val reader = new FlakyReader
    val out = RemoteTable.lookupJoin[Long, Long, String](ds, identity, reader)
      .collect()
    assert(out.head._2.contains("ok"))
  }

  test("concurrent lookups proceed during one key's retry backoff") {
    val s = spark
    import s.implicits._
    // 48 keys that each fail once with a 500ms backoff, in ONE batch:
    // if backoff blocked EC threads (the old Thread.sleep shape), 48
    // parked sleeps over a ~CPU-sized pool would serialize into waves;
    // with the scheduled timer every backoff overlaps. Asserting on
    // OBSERVED overlap (each key's backoff interval = first failure →
    // retry call) instead of wall-clock elapsed keeps the test stable
    // on a loaded box — scheduling delay stretches intervals but
    // cannot un-overlap intervals that all started together.
    val keys = (1L to 48L)
    val ds = keys.toDS().coalesce(1)
    // timestamps live in a JVM-global (TablesSpec companion): the
    // reader closure is SERIALIZED into the task, so instance state
    // written executor-side would be a copy the driver never sees;
    // local mode shares one JVM, so an object field round-trips
    TablesSpec.backoffProbe.clear()
    val reader = new RemoteTable.AsyncReader[Long, String] {
      def getAsync(key: Long)(implicit ec: ExecutionContext) =
        if (TablesSpec.backoffProbe.putIfAbsent(
            key, Array(System.nanoTime(), -1L)) == null)
          Future.failed(new RuntimeException("transient"))
        else {
          TablesSpec.backoffProbe.get(key)(1) = System.nanoTime()
          Future.successful(Some(s"ok$key"))
        }
    }
    val cfg = RemoteTable.LookupConfig(batchSize = 64, maxRetries = 2,
      retryBackoffMs = 500)
    val out = RemoteTable.lookupJoin[Long, Long, String](
      ds, identity, reader, cfg).collect()
    assert(out.length == 48 && out.forall(_._2.isDefined))
    // max number of simultaneously-open backoff intervals: serialized
    // backoffs give ~1; the scheduled timer overlaps (nearly) all 48
    val intervals = keys.map { k =>
      val ts = TablesSpec.backoffProbe.get(k)
      (ts(0), ts(1))
    }
    val events = intervals.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }
      .sortBy(e => (e._1, e._2)) // close before open at identical ts
    val maxOverlap = events.scanLeft(0)(_ + _._2).max
    assert(maxOverlap >= 24,
      s"max concurrent backoffs was $maxOverlap of 48 — serialized?")
  }

  test("upsert: updates win, ties broken by sequence") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "seq")
    val updates = Seq((2L, "b2", 11L), (2L, "b3", 12L), (3L, "c", 11L))
      .toDF("k", "v", "seq")
    val merged = TableOps.upsert(base, updates, Seq("k"), "seq")
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(merged == Map(1L -> "a", 2L -> "b3", 3L -> "c"))
  }

  test("upsert: null sequence loses to non-null (window-form parity)") {
    // the bounded-heap latest aggregate must keep the row_number
    // window's desc NULLS LAST semantics: within-struct comparison
    // orders null fields smallest, so under struct-DESC a null seq
    // loses — pinned so a future ordering change can't silently
    // invert last-write-wins for rows missing a sequence
    val s = spark
    import s.implicits._
    val base = Seq((1L, "old", Some(1L))).toDF("k", "v", "seq")
    val updates = Seq((1L, "withseq", Some(5L)), (1L, "noseq", None: Option[Long]))
      .toDF("k", "v", "seq")
    val merged = TableOps.upsert(base, updates, Seq("k"), "seq")
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(merged == Map(1L -> "withseq"))
  }

  test("tombstones delete rows") {
    val s = spark
    import s.implicits._
    val t = Seq((1L, "a", false), (2L, "b", true)).toDF("k", "v", "del")
    val out = TableOps.applyTombstones(t, "del")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a"))
  }

  test("partial update overlays columns and defaults missing keys") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "a", 100L)).toDF("k", "name", "score")
    val updates = Seq((1L, "a2"), (9L, "z")).toDF("k", "name")
    val out = TableOps.partialUpdate(base, updates, Seq("k"),
        Map("score" -> 0L))
      .as[(Long, String, Long)].collect().toSet
    // existing row: name updated, score kept; new row: default score
    assert(out == Set((1L, "a2", 100L), (9L, "z", 0L)))
  }
}

object TablesSpec {
  /** (firstFailureNanos, retryNanos) per key — JVM-global so the
    * serialized reader closure and the driver assertion see the same
    * state in local mode. */
  val backoffProbe =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Long]]()
}

/** Fails twice, then succeeds — exercises AsyncRetriableTable behavior. */
class FlakyReader extends RemoteTable.AsyncReader[Long, String] {
  def getAsync(key: Long)(implicit ec: ExecutionContext): Future[Option[String]] = {
    FlakyReader.calls += 1
    if (FlakyReader.calls <= 2) Future.failed(new RuntimeException("transient"))
    else Future.successful(Some("ok"))
  }
}
object FlakyReader { @volatile var calls = 0 }
