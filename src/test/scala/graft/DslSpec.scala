package graft

import scala.concurrent.Future
import scala.concurrent.duration.Duration

import graft.dsl.MessageStream

class DslSpec extends SparkSpec {

  private def ms(xs: Int*) = {
    val s = spark
    import s.implicits._
    MessageStream(xs.toDS())
  }

  test("map / filter / flatMap chain") {
    val s = spark
    import s.implicits._
    val out = ms(1, 2, 3, 4)
      .filter(_ % 2 == 0)
      .map(_ * 10)
      .flatMap(x => Seq(x, x + 1))
      .ds.collect().sorted
    assert(out.toSeq == Seq(20, 21, 40, 41))
  }

  test("merge is bag union (no dedup)") {
    val out = ms(1, 2).merge(ms(2, 3)).ds.collect().sorted
    assert(out.toSeq == Seq(1, 2, 2, 3))
  }

  test("partitionBy produces keyed stream partitioned by key") {
    val s = spark
    import s.implicits._
    val kv = ms(1, 2, 3, 4, 5, 6).partitionBy(_ % 2, identity[Int] _)
    val grouped = kv.ds.collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    assert(grouped(0).toSeq == Seq(2, 4, 6))
    assert(grouped(1).toSeq == Seq(1, 3, 5))
  }

  test("broadcastAll replicates every message to every copy-slot") {
    val s = spark
    import s.implicits._
    val out = ms(1, 2).broadcastAll(3).collect()
    assert(out.length == 6)
    assert(out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap ==
      Map(0 -> Seq(1, 2), 1 -> Seq(1, 2), 2 -> Seq(1, 2)))
  }

  test("flatMapAsync preserves order and fans out") {
    val s = spark
    import s.implicits._
    val out = ms(1, 2, 3)
      .flatMapAsync(inflight = 2, Duration("5s"))(x =>
        Future.successful(Seq(x * 100)))
      .ds.collect().sorted
    assert(out.toSeq == Seq(100, 200, 300))
  }

  test("stream-table join: inner drops misses, left keeps them") {
    val s = spark
    import s.implicits._
    val stream = ms(1, 2, 3).partitionBy(identity[Int] _, _ * 10)
    val table = Seq((1, "one"), (2, "two")).toDS()
    val inner = stream.joinTable(table).collect()
    assert(inner.map(r => (r._1, r._2, r._3)).toSet ==
      Set((1, 10, Some("one")), (2, 20, Some("two"))))
    val left = stream.joinTable(table, inner = false).collect()
    assert(left.exists(r => r._1 == 3 && r._3.isEmpty))
  }

  test("joinTtl is deterministic under shuffled input partitioning") {
    val s = spark
    import s.implicits._
    import graft.dsl.KVStream
    // several updates per key; "last" must follow the order column, not
    // arrival/partition order
    val lRows = Seq((1, (10L, "a")), (1, (30L, "c")), (1, (20L, "b")),
      (2, (5L, "x")), (2, (5L, "y"))) // tie on order → max value wins
    val rRows = Seq((1, (100L, 7)), (1, (50L, 3)), (2, (1L, 9)))
    def run(lPart: Int, rPart: Int) = {
      val l = KVStream(s.createDataset(lRows).repartition(lPart))
      val r = KVStream(s.createDataset(rRows).repartition(rPart))
      l.joinTtl(r)(_._1, _._1).collect().toSet
    }
    val expected = Set(
      (1, (30L, "c"), (100L, 7)),
      (2, (5L, "y"), (1L, 9))) // (5,"y") > (5,"x") on the value struct
    for ((lp, rp) <- Seq((1, 1), (3, 2), (7, 5)))
      assert(run(lp, rp) == expected, s"partitioning ($lp,$rp)")
  }

  test("joinTtl runs with Map-typed (unorderable) values") {
    val s = spark
    import s.implicits._
    import graft.dsl.KVStream
    // map values can't join the max_by tiebreak struct (maps are not
    // orderable in Spark) — joinTtl must fall back to order-only
    // tiebreak instead of failing analysis. Order values are unique
    // per key, so the result is still fully determined.
    val lRows = Seq(
      (1, (10L, Map("a" -> 1))), (1, (30L, Map("c" -> 3))),
      (2, (5L, Map("x" -> 9))))
    val rRows = Seq((1, (20L, "r1")), (2, (1L, "r2")))
    val l = KVStream(s.createDataset(lRows).repartition(3))
    val r = KVStream(s.createDataset(rRows).repartition(2))
    val out = l.joinTtl(r)(_._1, _._1).collect().toSet
    assert(out == Set(
      (1, (30L, Map("c" -> 3)), (20L, "r1")),
      (2, (5L, Map("x" -> 9)), (1L, "r2"))))
  }

  test("sendTo: a job that fails mid-write leaves the previous table readable and unchanged") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-sendto")
    val out = root.resolve("out").toString
    ms(1, 2, 3).sendTo(out)
    // four tasks, the last of which throws after the others can commit
    val failing = MessageStream(s.range(0, 400, 1, 4).as[Long].map { i =>
      if (i == 399) throw new IllegalStateException("fail mid-write")
      i.toInt
    })
    intercept[Exception](failing.sendTo(out))
    assert(s.read.parquet(out).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    // no staging dir is left beside the output
    assert(root.toFile.list().toSeq == Seq("out"))
    ms(4, 5).sendTo(out)
    assert(s.read.parquet(out).as[Int].collect().sorted.toSeq == Seq(4, 5))
  }
}
