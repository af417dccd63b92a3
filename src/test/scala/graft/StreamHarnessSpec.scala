package graft

import org.apache.spark.sql.streaming.GroupStateTimeout

import graft.streaming.{StreamHarness, StreamWindows, TaskRunner}
import graft.streaming.StreamWindows.WindowConfig

/** StreamHarness.runWithTicks contract: clock-only steps advance the
  * watermark via a sentinel tick, so operators running with
  * event-time timeouts flush panes whose injected-clock deadline has
  * passed WITHOUT any data arriving for the key (the dummy-flush-row
  * workaround the harness previously required). Reference analog:
  * RunLoop's timer thread ticks windows with no input
  * (container/RunLoop.java:79-121);
  * WindowOperatorImpl.handleEndOfStream:208 flushes open panes. */
class StreamHarnessSpec extends SparkSpec {

  private lazy val s0 = spark
  import s0.implicits._

  private type Ev = StreamHarness.Ticked[(String, Int)]

  private def fold(
      ds: org.apache.spark.sql.Dataset[StreamHarness.Ticked[(String, Int)]],
      interval: Long) =
    StreamWindows.keyedTumblingFold[StreamHarness.Ticked[(String, Int)],
      String, Int](
      ds, _._1._1, 0, (a, e) => a + e._1._2,
      WindowConfig(intervalMs = interval), StreamHarness.clock,
      timeout = GroupStateTimeout.EventTimeTimeout)

  test("timer flush happens on a clock-only step") {
    val s = spark
    import s.implicits._
    val steps: Seq[(Long, Seq[(String, Int)])] = Seq(
      (100L, Seq(("a", 1), ("a", 2), ("b", 10))), // all panes open
      (2500L, Seq.empty) // clock-only: both keys idle, panes past close
    )
    val out = StreamHarness.runWithTicks(s, steps, sentinel = ("x", 0)) {
      ds => fold(ds, 1000L)
    }
    val panes = out.as[StreamWindows.Pane[String, Int]].collect()
      .map(p => (p.key, p.windowStartMs, p.value, p.firing)).toSet
    assert(panes == Set(
      ("a", 0L, 3, "DEFAULT"), ("b", 0L, 10, "DEFAULT")))
  }

  test("clock-only step flushes only panes past their close") {
    val s = spark
    import s.implicits._
    val steps: Seq[(Long, Seq[(String, Int)])] = Seq(
      (100L, Seq(("a", 1))), // pane [0, 1000)
      (1200L, Seq(("a", 5))), // flushes pane 0 on data path; opens [1000, 2000)
      (1500L, Seq.empty), // clock-only, nothing due — must emit nothing
      (3000L, Seq.empty) // clock-only, pane 1000 due
    )
    val out = StreamHarness.runWithTicks(s, steps, sentinel = ("x", 0)) {
      ds => fold(ds, 1000L)
    }
    val panes = out.as[StreamWindows.Pane[String, Int]].collect()
      .map(p => (p.key, p.windowStartMs, p.value, p.firing)).toSet
    assert(panes == Set(
      ("a", 0L, 1, "DEFAULT"), ("a", 1000L, 5, "DEFAULT")))
  }

  test("session window closes on gap via clock-only steps and data path") {
    val s = spark
    import s.implicits._
    val steps: Seq[(Long, Seq[(String, Int)])] = Seq(
      (100L, Seq(("a", 1), ("b", 5))),
      (200L, Seq(("a", 2))), // extends a's session; b idle (gap 500 not yet elapsed)
      (800L, Seq(("a", 10))), // 600 > gap: closes a's session (1+2) on the DATA path, starts a new one
      (5000L, Seq.empty) // clock-only: closes b (5) via timeout and a's second session (10)
    )
    val out = StreamHarness.runWithTicks(s, steps, sentinel = ("x", 0)) {
      ds =>
        StreamWindows.keyedSessionFold[StreamHarness.Ticked[(String, Int)],
          String, Int](
          ds, _._1._1, 0, (a, e) => a + e._1._2, gapMs = 500L,
          StreamHarness.clock,
          timeout = GroupStateTimeout.EventTimeTimeout)
    }
    val panes = out.as[StreamWindows.Pane[String, Int]].collect()
      .map(p => (p.key, p.windowStartMs, p.value)).toSet
    assert(panes == Set(
      ("a", 100L, 3), ("a", 800L, 10), ("b", 100L, 5)))

    // the collect form's panes are the fold-to-list panes
    def listPanes(out: org.apache.spark.sql.DataFrame) =
      out.as[StreamWindows.Pane[String, Seq[Ev]]].collect()
        .map(p => (p.key, p.windowStartMs, p.value.map(_._1), p.firing))
        .toSet
    val listed = listPanes(StreamHarness.runWithTicks(s, steps,
        sentinel = ("x", 0)) { ds =>
      StreamWindows.keyedSessionFold[Ev, String, Seq[Ev]](ds, _._1._1,
        Seq.empty[Ev], (a, e) => a :+ e, gapMs = 500L, StreamHarness.clock,
        timeout = GroupStateTimeout.EventTimeTimeout)
    })
    val collected = listPanes(StreamHarness.runWithTicks(s, steps,
        sentinel = ("x", 0)) { ds =>
      StreamWindows.keyedSessionCollect[Ev, String](ds, _._1._1,
        gapMs = 500L, StreamHarness.clock,
        timeout = GroupStateTimeout.EventTimeTimeout)
    })
    assert(listed.map(p => (p._1, p._2, p._3.map(_._2).sum)) == panes)
    assert(collected == listed)
  }

  test("WindowableTask window() ticks for an idle task on a clock-only step") {
    val s = spark
    import s.implicits._
    // low-level task surface: window() must run every windowMs even
    // with no input for the task — RunLoop's timer tick
    // (WindowableTask.java:38, RunLoop.java:79-121)
    val task = new TaskRunner.StreamTaskLike[
        StreamHarness.Ticked[(String, Long)],
        (String, Long)] {
      def process(msg: StreamHarness.Ticked[(String, Long)],
          store: TaskRunner.KVStore,
          collector: TaskRunner.Collector[(String, Long)]): Unit = {
        val n = store.get("n").map(_.toLong).getOrElse(0L) + msg._1._2
        store.put("n", n.toString)
      }
      override def window(store: TaskRunner.KVStore,
          collector: TaskRunner.Collector[(String, Long)]): Unit =
        collector.send(("tick", store.get("n").map(_.toLong).getOrElse(0L)))
    }
    val steps: Seq[(Long, Seq[(String, Long)])] = Seq(
      (100L, Seq(("a", 7L))), // processed, no tick due yet
      (1500L, Seq.empty)) // clock-only: tick due (1500 - 100 >= 1000)
    val out = StreamHarness.runWithTicks(s, steps, sentinel = ("x", 0L)) {
      ds =>
        TaskRunner.run[StreamHarness.Ticked[(String, Long)],
          String, (String, Long)](
          ds, _._1._1, task, orderBy = _._1._2, windowMs = Some(1000L),
          clock = StreamHarness.clock,
          timeout = GroupStateTimeout.EventTimeTimeout)
    }
    assert(out.as[(String, Long)].collect().toSet == Set(("tick", 7L)))
  }

  test("sentinel rows never reach the operator") {
    val s = spark
    import s.implicits._
    // sentinel shares key "a": if it leaked through the typed filter it
    // would fold 99 into a's pane
    val steps: Seq[(Long, Seq[(String, Int)])] = Seq(
      (100L, Seq(("a", 1))),
      (2500L, Seq.empty))
    val out = StreamHarness.runWithTicks(s, steps, sentinel = ("a", 99)) {
      ds => fold(ds, 1000L)
    }
    val panes = out.as[StreamWindows.Pane[String, Int]].collect()
      .map(p => (p.key, p.value)).toSet
    assert(panes == Set(("a", 1)))
  }

  test("WatermarkStates drives the harness clock: idle producer does " +
    "not hold back the flush") {
    import graft.streaming.Choosers.StreamPartition
    import graft.streaming.Watermarks.WatermarkStates
    val s = spark
    import s.implicits._
    // three producer tasks feed one intermediate partition; t3 goes
    // silent after its first report. With the idle timeout elapsed and
    // the active producers forming a quorum, the aggregated watermark
    // advances past the pane close anyway;
    // feeding it to the harness as the step clock flushes the pane a
    // Spark-global-min would hold open forever.
    val sp = StreamPartition("int", 0)
    var wall = 0L
    val w = new WatermarkStates(Set(sp), Map("int" -> 3),
      idleTimeoutMs = 50L, quorumPct = 0.6, now = () => wall)
    w.update(sp, 100L, Some("t1"))
    w.update(sp, 100L, Some("t2"))
    w.update(sp, 100L, Some("t3")) // t3's last report ever
    val early = w.watermarkOf(sp) // 100: pane [0, 1000) still open
    wall = 200L // idle timeout elapses for t3
    w.update(sp, 2500L, Some("t1"))
    w.update(sp, 2600L, Some("t2"))
    val late = w.watermarkOf(sp) // 2500: t3 dropped from the min
    assert(early == 100L && late == 2500L)
    val steps: Seq[(Long, Seq[(String, Int)])] = Seq(
      (early, Seq(("a", 1))),
      (late, Seq.empty)) // clock-only step at the aggregated watermark
    val out = StreamHarness.runWithTicks(s, steps, sentinel = ("x", 0)) {
      ds => fold(ds, 1000L)
    }
    val panes = out.as[StreamWindows.Pane[String, Int]].collect()
      .map(p => (p.key, p.windowStartMs, p.value)).toSet
    assert(panes == Set(("a", 0L, 1)))
  }
}
