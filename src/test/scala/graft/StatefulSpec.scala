package graft

import graft.streaming.{StreamWindows, TtlJoin}
import graft.streaming.StreamWindows.WindowConfig

/** Stateful-operator semantics: TTL join last-value-per-key behavior
  * and window fold/trigger/accumulation logic, run in bounded mode with
  * injected clocks/timestamps for determinism. */
class StatefulSpec extends SparkSpec {

  test("TTL join keeps last value per key and respects TTL") {
    val s = spark
    import s.implicits._
    // key "a": left v1 then v2 (overwrite), right within TTL → joins v2
    // key "b": right arrives 2000ms after left with ttl 1000 → no match
    val tagged = Seq(
      TtlJoin.Tagged[String, Int, String]("a", Some(1), None, 100L),
      TtlJoin.Tagged[String, Int, String]("a", Some(2), None, 200L),
      TtlJoin.Tagged[String, Int, String]("a", None, Some("x"), 300L),
      TtlJoin.Tagged[String, Int, String]("b", Some(9), None, 100L),
      TtlJoin.Tagged[String, Int, String]("b", None, Some("y"), 2500L)
    ).toDS().coalesce(1)
    val out = TtlJoin.join(tagged, ttlMs = 1000L).collect()
    assert(out.toSet == Set(TtlJoin.Joined("a", 2, "x")))
  }

  test("TTL join emits on both directions within TTL") {
    val s = spark
    import s.implicits._
    val tagged = Seq(
      TtlJoin.Tagged[String, Int, String]("k", None, Some("r1"), 100L),
      TtlJoin.Tagged[String, Int, String]("k", Some(7), None, 200L),
      TtlJoin.Tagged[String, Int, String]("k", None, Some("r2"), 300L)
    ).toDS().coalesce(1)
    val out = TtlJoin.join(tagged, ttlMs = 1000L).collect()
    // left arrival joins buffered right; right arrival joins buffered left
    assert(out.toSet == Set(
      TtlJoin.Joined("k", 7, "r1"), TtlJoin.Joined("k", 7, "r2")))
  }

  test("tumbling fold fires EARLY panes on count trigger (DISCARDING)") {
    val s = spark
    import s.implicits._
    val ds = Seq(("u1", 1), ("u1", 2), ("u1", 3), ("u1", 4), ("u2", 10))
      .toDS().coalesce(1)
    val cfg = WindowConfig(intervalMs = 60000,
      earlyTriggerCount = Some(2), accumulating = false)
    val fixed = () => 120000L // deterministic clock: all in one window
    val panes = StreamWindows.keyedTumblingFold[(String, Int), String, Int](
      ds, _._1, 0, (a, t) => a + t._2, cfg, fixed).collect()
    // u1: (1+2) EARLY fires then resets, (3+4) EARLY fires; u2: no fire
    val u1 = panes.filter(_.key == "u1").map(p => (p.value, p.firing)).toSet
    assert(u1 == Set((3, "EARLY"), (7, "EARLY")))
    assert(panes.count(_.key == "u2") == 0)
    // the collect form's panes are the fold-to-list panes
    val listed = StreamWindows.keyedTumblingFold[(String, Int), String,
      Seq[(String, Int)]](ds, _._1, Seq.empty, (a, t) => a :+ t, cfg,
      fixed).collect()
    val collected = StreamWindows.keyedTumblingCollect[(String, Int),
      String](ds, _._1, cfg, fixed).collect()
    assert(listed.map(_.value.size).sorted.toSeq == Seq(2, 2))
    assert(collected.toSet == listed.toSet)
  }

  test("tumbling fold ACCUMULATING keeps folding across firings") {
    val s = spark
    import s.implicits._
    val ds = Seq(("u1", 1), ("u1", 2), ("u1", 3), ("u1", 4)).toDS().coalesce(1)
    val cfg = WindowConfig(intervalMs = 60000,
      earlyTriggerCount = Some(2), accumulating = true)
    val panes = StreamWindows.keyedTumblingFold[(String, Int), String, Int](
      ds, _._1, 0, (a, t) => a + t._2, cfg, () => 0L).collect()
    // accumulating: pane keeps running total: 3 then 10
    assert(panes.map(p => (p.value, p.firing)).toSet ==
      Set((3, "EARLY"), (10, "EARLY")))
  }

  test("global tumbling fold and collect use one Void-like key") {
    val s = spark
    import s.implicits._
    val ds = Seq(1, 2, 3, 4).toDS().coalesce(1)
    val cfg = StreamWindows.WindowConfig(intervalMs = 60000,
      earlyTriggerCount = Some(4))
    val fold = StreamWindows.tumblingFold[Int, Int](
      ds, 0, (a, t) => a + t, cfg, () => 0L).collect()
    assert(fold.map(p => (p.value, p.firing)).toSeq == Seq((10, "EARLY")))
    val coll = StreamWindows.tumblingCollect[Int](
      ds, cfg, () => 0L).collect()
    assert(coll.head.value.sorted == Seq(1, 2, 3, 4))
  }

  test("windows assign by the processing-time clock") {
    val s = spark
    import s.implicits._
    val ds = Seq(("u", 1)).toDS().coalesce(1)
    val cfg = WindowConfig(intervalMs = 1000, earlyTriggerCount = Some(1))
    val panes = StreamWindows.keyedTumblingFold[(String, Int), String, Int](
      ds, _._1, 0, (a, t) => a + t._2, cfg, () => 4321L).collect()
    assert(panes.head.windowStartMs == 4000L)
  }
}
