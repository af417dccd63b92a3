package graft


/** Benchmark main: runs the full query inventory on
  * SPARK_GRAFT_SF_DIR, prints one JSON line of per-query seconds.
  * A warmup pass at sf0.001 absorbs JVM/codegen/classloading cost so
  * the reported numbers measure the queries, not the first query's
  * luck of the draw.
  *
  * Self-adjudicating against the box's mid-run bursts, on two arms:
  * (1) CPU probes — calibration probes run every 8 queries (plus the
  * start/end cals), any probe > 2× the run's best cal flags its
  * segment; (2) bar-relative — any row reading >= 2× its recorded
  * BASELINE.md bar (BenchBars, generated) is a retry candidate with
  * NO probe precondition, because the CPU probes are provably blind
  * to I/O-side bursts (round 11: a ten-row band at 2-7.7× bar with
  * every probe idle). Candidates re-run once at end-of-run and
  * report the min — so a capture either shows clean probes and
  * at-bar rows (slow rows are real) or carries "burst"/"retry"
  * counters with burst-corrected values; the full CPU ("mcal") and
  * file-read ("io") probe vectors plus original-vs-retry pairs live
  * in bench_last.json. Third arm (round-18): when the capture as a
  * WHOLE is suspect — best cal anywhere in the run > 3× the recorded
  * idle bar, or > 10 rows still breach after retries — the remaining
  * breach set re-runs once behind fresh bracketing cals and the line
  * carries BOTH readings ("qrc" + "rcal"), so a burst-window capture
  * self-adjudicates on the official artifact instead of needing an
  * out-of-band idle pair (BenchAdjudication.recheckTriggered). The
  * stdout line is breach-only when bars exist: per-query seconds
  * appear only for rows >= 1.5× bar (or with no bar), at full
  * precision — the complete dict is in bench_last.json. Round 20
  * adds "qv": every row's seconds as a values-only vector in the
  * run's alphabetical name order (names recoverable from the sorted
  * registry / bench_last.json's full dict), restoring per-query
  * driver visibility inside the byte window a full NAMED dict
  * outgrew at ~96 queries; if the line overflows, the recheck pass's
  * under-bar rows are shed first and "qv" second. */
/** The pure burst-adjudication rules Bench applies — factored out so
  * BenchSpec can drive the scenarios a live run can't stage on demand
  * (a mid-run box burst, a fully-throttled run, a clean run). */
private[graft] object BenchAdjudication {

  /** The burst flag line: above settled-probe jitter (min-of-2 probes
    * on an idle box read 0.07-0.15 s) but low enough to catch a MILD
    * burst — a staged 32-way fair-share hog (a 2× slowdown, i.e.
    * exactly the regression gate's bar) reads probes at only
    * 0.16-0.22 s, which a 3×+0.2 line missed while the run's rows
    * inflated 2×. So: 2× the run's best cal with a +0.1 s jitter
    * floor. Erring toward flagging is cheap and self-correcting: a
    * false flag costs a few bounded retries whose minima confirm the
    * original readings, while a missed burst costs a round of manual
    * forensics. `calBase` = best cal observed anywhere in the run: if
    * the WHOLE run is throttled every sample is high, nothing flags
    * here, and the cal-vs-idle-bar normalization applies instead. */
  def burstThreshold(cal: Double, midCals: Seq[Double],
      cal2: Double): Double = {
    val calBase = (cal +: cal2 +: midCals).min
    math.max(2.0 * calBase, calBase + 0.1)
  }

  /** Mid-probes over the flag line — the `burst` counter. */
  def burstProbeCount(cal: Double, midCals: Seq[Double],
      cal2: Double): Int =
    midCals.count(_ > burstThreshold(cal, midCals, cal2))

  /** The probes bracketing query index `i` (one probe ran before
    * every `calEvery`-th query; `cal`/`cal2` close the ends). */
  def brackets(i: Int, calEvery: Int, cal: Double,
      midCals: Seq[Double], cal2: Double): Seq[Double] = {
    val k = i / calEvery
    Seq(if (k == 0) cal else midCals(k - 1),
      if (k < midCals.size) midCals(k) else cal2)
  }

  /** Indices of rows to re-run: EITHER inside a flagged segment
    * (either bracketing probe over the line) OR — regardless of probe
    * state — reading >= 2x the row's own baseline bar. The second
    * arm exists because the CPU-bound cal probes are blind to
    * I/O-side bursts: round 11's driver capture carried a ten-row
    * band at 2-7.7x bar with every probe idle (page-cache eviction
    * slows parquet reads but not a codegen sum). Both arms require
    * the original reading >= 0.3 s (below that the documented
    * quantization/noise floor swallows any verdict); most-SUSPECT
    * first, at most 20. Ordering is by bar-RATIO (seconds/bar), not
    * absolute seconds: the round-12 capture proved seconds-ordering
    * self-defeating — a wide burst inflated ~30 rows, the 20 slots
    * went to the most EXPENSIVE ones, and 12 cheap rows at 2.7-4.9×
    * bar (the most anomalous readings in the run, <15 s to retry)
    * shipped uncorrected on the breach-only line. A 4.9×-bar row is
    * more suspect than a 2.1×-bar row whatever their absolute costs,
    * and high-ratio rows skew cheap — ratio ordering fixes both the
    * suspicion ranking and the budget economics. `bars` is
    * index-aligned with `times`; None = no bar recorded for that row
    * (new query, or a scale dir without bars) — only the probe arm
    * can select it, and such rows queue AFTER every barred candidate
    * (ordered by seconds among themselves, a ratio being
    * uncomputable). */
  def retryCandidates(times: IndexedSeq[Double], calEvery: Int,
      cal: Double, midCals: Seq[Double], cal2: Double,
      bars: IndexedSeq[Option[Double]] = IndexedSeq.empty): Seq[Int] = {
    val line = burstThreshold(cal, midCals, cal2)
    def probeFlagged(i: Int): Boolean =
      brackets(i, calEvery, cal, midCals, cal2).exists(_ > line)
    def barBreach(i: Int): Boolean =
      bars.lift(i).flatten.exists(b => times(i) >= 2.0 * b)
    val picked = times.indices
      .filter(i => times(i) >= 0.3 && (probeFlagged(i) || barBreach(i)))
    val (barred, barless) =
      picked.partition(i => bars.lift(i).flatten.isDefined)
    // MULTI-SECOND 2×-bar rows are GUARANTEED slots before any
    // sub-second candidate consumes one: round 14's capture had
    // q_dedup_jaccard (11 s, 2.6× bar — the only multi-second breach)
    // at ratio rank 21 of a 20-slot budget, squeezed out by cheap
    // sub-second high-ratio rows whose verdicts the ±noise rule
    // adjudicates anyway. A multi-second breach is the one kind of
    // row a 2× gate cannot wave through, so it retries first.
    val (prio, rest) =
      barred.partition(i => times(i) >= 1.0 && barBreach(i))
    val ordered =
      prio.sortBy(i => -(times(i) / bars(i).get)) ++
        rest.sortBy(i => -(times(i) / bars(i).get)) ++
        barless.sortBy(i => -times(i))
    ordered.take(20)
  }

  /** Idle-box cal bar (median calOnce on an idle box reads
    * 0.08–0.11 — BASELINE.md header; this is the recorded upper
    * edge). The recheck gate compares against this CONSTANT, not the
    * run's own best cal, because a WHOLE-RUN throttle inflates every
    * in-run probe — relative rules are blind to it by construction
    * (round-17: opening cal 3.98 ≈ 40× idle, 28 breach rows, yet
    * zero probes over the run-relative burst line). */
  val IdleCalBar = 0.11

  /** Whether the capture needs the end-of-run BREACH RECHECK (the
    * round-17 task: a burst-window capture must self-adjudicate on
    * the official artifact, not via out-of-band idle pairs): the
    * box never reached idle speed at ANY probe (best cal > 3× the
    * recorded idle bar — whole-run throttle), or the breach dict is
    * too wide to be plausible as simultaneous real regressions
    * (> 10 rows — real regressions arrive with the commits that
    * cause them, not 28 at once across unrelated query families).
    * The recheck re-runs the breach set once behind fresh bracketing
    * cals and emits BOTH readings. */
  def recheckTriggered(bestCal: Double, breachCount: Int): Boolean =
    bestCal > 3.0 * IdleCalBar || breachCount > 10

  /** Whether a still-breached row's retry verdict is UNTRUSTWORTHY:
    * the cal probe bracketing its retry read over the burst flag
    * line, i.e. the retry itself ran on a degraded box. Round 14's
    * retries ran at end-of-run under a certified ~4× throttle (cal3
    * 0.33 vs cal 0.07), so q_stream_ann's retry minimum still shipped
    * as a formal 2.1× "breach" that BASELINE.md's cal×bar reading
    * rule had to adjudicate away manually. With each retry bracketed
    * by its own probe the adjudication is mechanical: such rows are
    * suppressed from the breach dict into a `qburst` count (full
    * values stay in bench_last.json's `retried` map). */
  def retryCalDegraded(retryCal: Double, cal: Double,
      midCals: Seq[Double], cal2: Double): Boolean =
    retryCal > burstThreshold(cal, midCals, cal2)

  /** The breach-only emitter's suppression rule: a row leaves the
    * breach dict as burst-certified iff it still reads >= 1.5× its
    * bar AND its retry's bracketing cal was degraded
    * ([[retryCalDegraded]]). Rows never retried, or retried under a
    * clean cal, always ship their breach. */
  def suppressAsBurst(value: Double, bar: Option[Double],
      retryCal: Option[Double], cal: Double, midCals: Seq[Double],
      cal2: Double): Boolean =
    bar.exists(b => value >= 1.5 * b) &&
      retryCal.exists(rc => retryCalDegraded(rc, cal, midCals, cal2))
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession("graft-bench",
      master = Some(s"local[$cpus]"), shufflePartitions = Some(cpus.toInt))

    val warmDir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
    }
    spark.catalog.clearCache() // drop persisted intermediates from warmup

    // fixed-size CPU-bound calibration: median of 3 codegen sums over a
    // constant 64M-row range. The box throttles progressively within a
    // session (BASELINE.md header: same-code 50.3→61.7→77.5 s), so a
    // run's cal value lets the driver/judge normalize a throttled run
    // instead of adjudicating with ad-hoc control queries. The idle-box
    // value is recorded in BASELINE.md.
    def calOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 64L << 20, 1, cpus.toInt).selectExpr("sum(id % 97)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val cal = { val xs = Seq.fill(3)(calOnce()).sorted; xs(1) }

    // "sf" carries the basename (sf0.1), not the full path — same
    // byte-budget motive as the "rps" rename below
    val sfName = new java.io.File(sfDir).getName
    // per-query baseline bars for this scale dir (empty map if the
    // dir has no recorded bars): drives the bar-relative retry arm
    // and the breach-only stdout emitter
    val bars = BenchBars.forSf(sfName)

    // I/O mini-probe: timed raw re-read of a fixed ~32 MB slice of
    // the run's own lineitem parquet. The CPU cal probes are blind to
    // I/O-side bursts (round 11: a ten-row band at 2-7.7x bar with
    // every CPU probe idle — page-cache eviction slows parquet scans
    // but not a codegen sum); this probe sees exactly that: a warm
    // page-cache re-read sits at ~0.01-0.05 s, a probe reading 5x+
    // its own best means the file cache was evicted mid-run. The
    // vector is DIAGNOSTIC — it labels a burst I/O-side vs CPU-side;
    // retry SELECTION uses the bar-relative rule, which needs no
    // probe breach at all.
    // each entry carries the BYTES to read from that file: the file
    // that crosses the 32 MB budget is read only up to the remainder,
    // never to EOF — with production-sized parts (128 MB+) reading the
    // whole crossing file would 4x the probe's wall-clock and churn
    // the very page cache it exists to observe
    val ioFiles: Seq[(java.io.File, Long)] = {
      val root = new java.io.File(s"$sfDir/lineitem.parquet")
      val all =
        if (root.isDirectory)
          root.listFiles().filter(f => f.isFile &&
            f.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
        else if (root.isFile) Seq(root)
        else Seq.empty
      var budget = 32L << 20
      val picked = Seq.newBuilder[(java.io.File, Long)]
      val it = all.iterator
      while (budget > 0 && it.hasNext) {
        val f = it.next()
        val take = math.min(f.length(), budget)
        if (take > 0) picked += ((f, take))
        budget -= take
      }
      picked.result()
    }
    def ioOnce(): Double = {
      val buf = new Array[Byte](1 << 20)
      var sink = 0L // data-dependent accumulator so the read can't be elided
      val t0 = System.nanoTime()
      ioFiles.foreach { case (f, cap) =>
        val in = new java.io.FileInputStream(f)
        try {
          var left = cap
          var n = in.read(buf, 0, math.min(left, buf.length.toLong).toInt)
          while (n > 0) {
            sink += buf(0) + n; left -= n
            n = if (left <= 0) -1
                else in.read(buf, 0, math.min(left, buf.length.toLong).toInt)
          }
        } finally in.close()
      }
      if (sink == Long.MinValue) System.err.println("[bench] io sink")
      (System.nanoTime() - t0) / 1e9
    }
    val ioCals = scala.collection.mutable.ArrayBuffer[Double](ioOnce())

    // deterministic name order: Map iteration order varies per binary,
    // which changes each query's warm-cache neighbors and cost two
    // rounds of bar ambiguity (q_dedup_incremental, q_dedup_jaccard)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // mid-run calibration probes: one calOnce() every `calEvery`
    // queries (~0.1 s each on an idle box — ≤1.5 s total). The box's
    // signature failure is a mid-run BURST between clean endpoint
    // cals (three of the last four rounds needed manual forensics to
    // clear the 2× gate over exactly that); the probe vector makes
    // the capture self-adjudicating: a row is suspect iff one of its
    // bracketing probes breached, and the end-of-run retry below
    // resolves suspects mechanically.
    val calEvery = 8
    val midCals = scala.collection.mutable.ArrayBuffer[Double]()
    val raw = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    // a probe is the MIN of two samples with a short settle between:
    // the first sample right after a heavy query absorbs its trailing
    // load (async cleanup, GC — measured 0.4-0.55 s probes on an idle
    // box whose retries then confirmed every row at its original
    // time), the second reads the box; a genuine external burst slows
    // BOTH samples and still flags.
    def midProbe(): Double = {
      val a = calOnce(); Thread.sleep(150); math.min(a, calOnce())
    }
    // the primary timed run of every row is profiled (bench_last.json's
    // "profile"); retries and rechecks run untagged, and the profile's
    // bus drain and snapshot happen after each row's t1
    val prof = graft.obs.QueryProfile.install(spark)
    ordered.zipWithIndex.foreach { case ((name, fn), i) =>
      if (i > 0 && i % calEvery == 0) { midCals += midProbe(); ioCals += ioOnce() }
      prof.row(name) {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
        raw += name -> ((System.nanoTime() - t0) / 1e9)
      }
      spark.catalog.clearCache()
    }
    prof.close()
    // The driver's capture window is 2,000 bytes and the round-7 line
    // (3-decimal, with "unit") measured ~2,010 — decapitated, third
    // parsed:null round. Precision is now ADAPTIVE: level 0 is
    // 2-decimal seconds below 10 s (trailing zeros stripped — "0.50"→
    // "0.5", "1.00"→"1", lossless valid JSON) and whole seconds at
    // ≥10 s; if the assembled line still exceeds the budget (possible
    // only when a throttled box inflates many digit counts at once),
    // level 1 drops 1–10 s rows to one decimal and level 2 rounds ≥1 s
    // rows to whole seconds — precision is shed exactly when the box's
    // own ±1.5 s noise has already drowned it, and an idle-box line
    // keeps full precision. The emitter picks the smallest level that
    // fits; the 78-query idle line sits ~30 bytes under budget at
    // level 0.
    // io probes get 3 decimals everywhere: their signal band is
    // 0.004-0.05 s, so the 2-decimal query format would quantize a
    // warm 4 ms read to "0" and turn every later probe into an
    // infinite apparent ratio — the CPU-vs-I/O labeling the vector
    // exists for needs the millisecond digits (the vector is ~14
    // entries × ~6 bytes; the breach-only line has the room)
    def fmtIo(v: Double): String = {
      val s = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      if (s.contains('.'))
        s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      else s
    }
    def fmt(level: Int)(v: Double): String = {
      def dec(d: Int): String = {
        val s = s"%.${d}f".formatLocal(java.util.Locale.ROOT, v)
        if (s.contains('.'))
          s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
        else s
      }
      if (v >= 10) math.round(v).toString
      else if (v >= 1 && level >= 2) math.round(v).toString
      else if (v >= 1 && level >= 1) dec(1)
      else if (level >= 3) dec(1) // sub-second floor: ±0.05 quantization
      else dec(2)
    }
    // single-node throughput (the reference's headline unit is msg/s):
    // a filter→hash-agg pipeline over lineitem, rows/sec, measured WARM
    // (the count() beforehand primes file/footer caches) and taken as
    // the BEST of 3 runs — single samples swing ±25% with background
    // machine load; the max reflects engine capability, not load luck
    // (recorded as such in BASELINE.md)
    val throughput = try {
      val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
      val rows = li.count()
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        li.filter(org.apache.spark.sql.functions.col("l_quantity") > 0)
          .groupBy("l_returnflag").count().count()
        rows / ((System.nanoTime() - t0) / 1e9)
      }.max
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] throughput measurement failed: $e")
        -1.0
    }

    // "rps" = single-node throughput rows/sec (was
    // "throughput_rows_per_sec" through round 9 — renamed to keep the
    // line inside the driver's 2,000-byte capture window as the query
    // inventory grows; the semantics and BASELINE.md bar are unchanged)
    // end-of-run calibration: the box degrades MID-run (round-10 runs
    // C/D: cal 0.18/0.19 at start, totals 2-4x the idle pair) and a
    // start-only cal is blind to it; cal/cal2 disagreement is the
    // self-identifying signature of a mid-run throttle, so the judge
    // can discard the run instead of adjudicating with controls
    val cal2 = { val xs = Seq.fill(3)(calOnce()).sorted; xs(1) }
    ioCals += ioOnce() // end-of-run I/O probe closes the diagnostic vector

    // ---- burst adjudication + auto-retry -----------------------------
    // baseline = the box's best observed cal this run (start, mids,
    // end): a probe > 2× it marks its segment as a mid-run burst. If
    // the WHOLE run is throttled every cal is high and nothing flags
    // here — that case is the existing cal-vs-idle-bar normalization.
    val burstProbes = BenchAdjudication.burstProbeCount(cal, midCals.toSeq, cal2)
    // rows inside a bursting segment — OR over 2x their own bar, with
    // no probe precondition at all (the bar arm; CPU probes provably
    // miss I/O bursts) — re-run ONCE at end-of-run (box usually
    // recovered — cal2/cal3 say so) and report the MIN of the two
    // timings: a burst victim comes back at-bar, a true regression
    // stays slow — no human adjudication. Bounded: only rows big
    // enough to ever breach a gate (>= 0.3 s — sub-0.3 readings are
    // inside the documented quantization/noise floor), MOST-SUSPECT
    // first (bar-ratio order; bar-less rows queue after by seconds —
    // see retryCandidates), at most 20 rows / 90 s. The candidate set
    // is computed
    // unconditionally: a burst confined to the FIRST or LAST segment
    // shows only in the endpoint cals (zero mid-probe breaches), and
    // gating on burstProbes alone would ship those rows uncorrected.
    // each retry tuple: (name, original, retry seconds or -1 on a
    // throwing retry, the retry's OWN bracketing cal probe). The
    // probe makes the retry verdict self-adjudicating: round 14's
    // retries ran under a certified ~4× end-of-run throttle and their
    // still-breached minima shipped as formal breaches the judge had
    // to wave off manually via the cal×bar rule — now a breach whose
    // retry cal reads over the burst line is suppressed mechanically
    // (suppressAsBurst below).
    val retried = scala.collection.mutable
      .ArrayBuffer.empty[(String, Double, Double, Double)]
    locally {
      var budget = 90.0
      val barVec = ordered.map { case (n, _) => bars.get(n) }.toIndexedSeq
      BenchAdjudication.retryCandidates(raw.map(_._2).toIndexedSeq,
          calEvery, cal, midCals.toSeq, cal2, barVec)
        .foreach { i =>
          if (budget > 0) {
            val (name, orig) = raw(i)
            val p0 = System.nanoTime()
            // bracketing means BOTH SIDES: a pre-only probe can read
            // degraded for a throttle that lifted before the retry
            // body ran (false suppression of a true regression), and
            // clean for one that started mid-retry (a contaminated
            // minimum shipping as trusted). Each side is min-of-2
            // with a settle (the midProbe rationale: the sample right
            // after a heavy query absorbs its trailing load); the
            // recorded cal is the WORSE side — degraded-any-side
            // makes the verdict untrustworthy.
            val pre = midProbe()
            val t0 = System.nanoTime()
            val ok =
              try { ordered(i)._2(spark, sfDir).count(); true }
              catch { case _: Throwable => false }
            val again = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            val rcal = math.max(pre, midProbe())
            budget -= (System.nanoTime() - p0) / 1e9
            // a THROWING retry is not a faster timing — its wall time
            // is failure time; keep the original reading and record
            // the retry as -1 so bench_last.json shows what happened
            retried += ((name, orig, if (ok) again else -1.0, rcal))
            if (ok && again < orig) raw(i) = name -> again
          }
        }
    }
    // post-retry cal: the context the retry timings ran under
    val cal3 = if (retried.nonEmpty) Some(calOnce()) else None
    // a retried row reports min(original, retry): the "value" total
    // follows — it is the box-burst-corrected run total
    val results = raw.toSeq
    val total = results.map(_._2).sum

    // ---- end-of-run breach RECHECK (round-17 task #2) ----------------
    // The retry arm above is run-relative and slot-bounded; a capture
    // landing in a WHOLE-RUN bursty window (r17: opening cal 3.98,
    // 28 breach rows, uniform ~2× inflation) sails past it and the
    // adjudication ends up living in out-of-band idle pairs. When the
    // recheckTriggered gate fires — best cal never reached idle, or
    // the breach dict is implausibly wide — every row still reading
    // >= 1.5× its bar after retries re-runs ONCE behind fresh
    // bracketing cal probes, and the line carries BOTH readings:
    // "queries" keeps the originals, "qrc" the recheck values, "rcal"
    // the recheck's own bracketing cal (so a recheck that ALSO ran
    // throttled is self-identifying rather than falsely exonerating).
    // Bounded: ratio-ordered, <= 30 rows / 300 s (deliberately
    // query-seconds only, unlike the retry arm's probe-inclusive p0
    // accounting: the recheck's probes bracket the PASS, not each
    // row, so charging them to the row budget would shortchange the
    // last rows for overhead the pass pays once) — it only fires on
    // degraded captures, where spending minutes beats shipping an
    // artifact a human must re-adjudicate.
    val bestCal = (cal +: cal2 +: midCals.toSeq).min
    val breachNow = results.filter { case (k, v) =>
      bars.get(k).exists(b => v >= 1.5 * b) }
    val recheck = scala.collection.mutable.LinkedHashMap[String, Double]()
    var recheckCal = -1.0
    if (bars.nonEmpty &&
        BenchAdjudication.recheckTriggered(bestCal, breachNow.size)) {
      val idxOf = results.zipWithIndex.map { case ((k, _), i) => k -> i }.toMap
      val preCal = midProbe()
      var budget = 300.0
      breachNow.sortBy { case (k, v) => -(v / bars(k)) }.take(30)
        .foreach { case (name, orig) =>
          // admission check BEFORE launching: a re-run should take
          // about the bar on an idle box and at worst the original
          // throttled reading — admit on the bar (so one slow
          // original can't starve the rest) but never launch a row
          // whose ORIGINAL reading alone exceeds what's left, else
          // a single minutes-long row overshoots the documented
          // 300 s bound by its full runtime on exactly the throttled
          // box the recheck exists for.
          if (budget > 0 && bars(name) <= budget && orig <= budget) {
            val t0 = System.nanoTime()
            val ok =
              try { ordered(idxOf(name))._2(spark, sfDir).count(); true }
              catch { case _: Throwable => false }
            val again = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            budget -= again
            if (ok) recheck += name -> again
          }
        }
      recheckCal = math.max(preCal, midProbe())
    }

    def assemble(level: Int): String = {
      val f = fmt(level) _
      // cal/cal2 keep 2 decimals at every level — they are the
      // throttle diagnostic and quantizing them defeats the purpose
      val fc = fmt(0) _
      // keys drop the uniform "q_" prefix every registry name carries:
      // at 89 queries the full names alone cost ~270 bytes the 2,000-
      // byte window no longer has (the round-10 89-query line measured
      // 2,114 bytes even at the precision floor). "dedup_exact" in a
      // BENCH line = registry/BASELINE query q_dedup_exact — recorded
      // in BASELINE.md's header too.
      val qs = results.map { case (k, v) =>
        "\"" + (if (k.startsWith("q_")) k.drop(2) else k) + "\":" + f(v)
      }.mkString("{", ",", "}")
      val rps = if (level >= 3) "" else s""","rps":${throughput.toLong}"""
      // level 4 sheds the two recoverable envelope fields: "metric"
      // (the line is found by capture position, not by field) and
      // "sf" (the driver records the scale factor in its own BENCH
      // envelope) — 31 bytes that keep the 92-query floor line under
      // the window. cal/cal2/value/queries always survive.
      val head =
        if (level >= 4) s"""{"value":${f(total)},"""
        else s"""{"metric":"total","value":${f(total)},"""
      val sf = if (level >= 4) "" else s""","sf":"$sfName""""
      // at the floor level cal2 is emitted ONLY when it diverges from
      // cal (the mid-run-throttle signature — the one case it carries
      // information); an absent cal2 on a level-4 line reads "end-of-
      // run calibration matched start" (BASELINE.md)
      val cal2Field =
        if (level >= 4 && cal2 <= cal * 1.25 && cal2 >= cal * 0.6) ""
        else s""""cal2":${fc(cal2)},"""
      // the burst verdict rides at EVERY level (it is the point of
      // the mid-probes): "burst" = mid-probes over 2× the run's best
      // cal, "retry" = rows re-run at end (their values are already
      // the min) — both absent on a clean run, so an idle line costs
      // nothing. The full probe vector ("mcal") ships below level 4;
      // at the floor the two counters carry the adjudication.
      val burstField =
        if (burstProbes == 0 && retried.isEmpty) ""
        else s""""burst":$burstProbes,"retry":${retried.size},"""
      val mcalField =
        if (level >= 4 || midCals.isEmpty) ""
        else s""""mcal":[${midCals.map(fc).mkString(",")}],"""
      head + s""""cal":${fc(cal)},$cal2Field$burstField$mcalField""" +
        s""""queries":$qs$sf$rps}"""
    }
    // budget 1,985: the window is 2,000 and the line is the LAST
    // output, so only its own length matters. Each registry query
    // costs ~21 line bytes; the 92-query floor (level 4) measures
    // ~1,976 — at ~95 queries even that overflows, so adding queries
    // means re-checking this arithmetic (the full-fidelity line in
    // bench_last.json is the fallback either way).
    // past ~93 queries even level 4 overflows; the last resort keeps
    // the SLOWEST rows (the ones a regression gate cares about —
    // dropped rows are the cheapest sub-second entries, where the
    // box's own ±1.5 s noise drowns any per-query signal) and counts
    // the dropped remainder as "qdrop". bench_last.json always holds
    // every row at full fidelity.
    def assembleTruncated(): String = {
      val f = fmt(4) _
      val fc = fmt(0) _
      val bySec = results.sortBy(-_._2)
      def build(keep: Int): String = {
        val qs = bySec.take(keep).sortBy(_._1).map { case (k, v) =>
          "\"" + (if (k.startsWith("q_")) k.drop(2) else k) + "\":" + f(v)
        }.mkString("{", ",", "}")
        val burstField =
          if (burstProbes == 0 && retried.isEmpty) ""
          else s""""burst":$burstProbes,"retry":${retried.size},"""
        s"""{"value":${f(total)},"cal":${fc(cal)},"cal2":${fc(cal2)},""" +
          s"""$burstField"qdrop":${results.size - keep},"queries":$qs}"""
      }
      Iterator.range(results.size, 0, -1).map(build)
        .find(_.length <= 1985).getOrElse(build(1))
    }
    // ---- breach-only emitter (primary when bars exist) ---------------
    // At 96+ queries the full per-query dict overflows the 2,000-byte
    // capture window even at the precision floor (rounds 10-11 shipped
    // qdrop 4-6, shedding exactly the rows nobody gates on). The full
    // dict lives in git-tracked bench_last.json; the stdout line spends
    // its bytes on ADJUDICATION instead of data: per-query seconds only
    // for rows >= 1.5x their bar (at full 2-decimal precision — these
    // are the rows a 2x gate examines) plus any row with no bar yet
    // (new queries are always worth seeing), the envelope, and both
    // probe vectors (mcal = CPU, io = file-read; together they label a
    // burst CPU-side vs I/O-side). "nq" = rows run; a row ABSENT from
    // "queries" reads "at/below 1.5x bar".
    // a breach row retried under a DEGRADED cal (its own bracketing
    // probe over the burst line) carries an untrustworthy verdict:
    // suppressed from the breach dict into "qburst" (values stay at
    // full fidelity in bench_last.json's retried map)
    // only SUCCESSFUL retries can certify a burst: a throwing retry
    // (-1) produced no timing to adjudicate with, so its row must
    // ship its breach rather than vanish into qburst on the strength
    // of a cal probe alone
    val retryCalOf =
      retried.collect { case (n, _, r, rc) if r >= 0 => n -> rc }.toMap
    def burstSuppressed(k: String, v: Double): Boolean =
      BenchAdjudication.suppressAsBurst(v, bars.get(k),
        retryCalOf.get(k), cal, midCals.toSeq, cal2)
    // recheck emission (two fidelity levels): level 0 ships every
    // rechecked row's second reading in "qrc"; level 1 sheds the
    // CONVERGED rows (recheck < 1.5× bar — certified burst victims)
    // into a "qrcok" count and keeps "qrc" only for rows still
    // breaching on the recheck — exactly the rows a regression gate
    // must still examine. "rcal" always rides along: a recheck that
    // itself ran throttled must say so, not exonerate.
    def recheckFields(shed: Boolean): String = {
      if (recheck.isEmpty) ""
      else {
        val f = fmt(0) _
        val (still, okRows) = recheck.toSeq.partition { case (k, v) =>
          bars.get(k).exists(b => v >= 1.5 * b) }
        val kept = if (shed) still else recheck.toSeq
        val qrc = kept.map { case (k, v) =>
          "\"" + (if (k.startsWith("q_")) k.drop(2) else k) + "\":" + f(v)
        }.mkString("{", ",", "}")
        val okField =
          if (shed && okRows.nonEmpty) s""""qrcok":${okRows.size},""" else ""
        s""""rcal":${f(recheckCal)},$okField"qrc":$qrc,"""
      }
    }
    def assembleBreachOnly(shedRecheck: Boolean,
        withQv: Boolean): String = {
      val f = fmt(0) _
      val qburst = results.count { case (k, v) => burstSuppressed(k, v) }
      val qs = results.filter { case (k, v) =>
        bars.get(k).forall(b => v >= 1.5 * b) && !burstSuppressed(k, v)
      }.map { case (k, v) =>
        "\"" + (if (k.startsWith("q_")) k.drop(2) else k) + "\":" + f(v)
      }.mkString("{", ",", "}")
      val burstField =
        if (burstProbes == 0 && retried.isEmpty) ""
        else s""""burst":$burstProbes,"retry":${retried.size},"""
      val qburstField = if (qburst == 0) "" else s""""qburst":$qburst,"""
      // "qv" = EVERY row's seconds as a values-only vector in the
      // run's deterministic name order (the alphabetical registry
      // order "nq" counts) — round 20: the breach-only dict blinded
      // the driver's per-query comparison and its 8-vs-32-core
      // scaling block (PERF_r19 n_common 0). A full NAMED dict can
      // never fit the 2,000-byte capture window (155 names ≈ 3.5 KB
      // — the round-7 decapitation), but the values alone cost ~800
      // bytes, and the names are recoverable: qv[i] belongs to
      // sorted(registry names)[i], the exact order bench_last.json's
      // full-fidelity dict records. Additions-only (the breach dict
      // and every envelope field are unchanged); if the line ever
      // outgrows the window it is shed second, after the recheck
      // pass's under-bar rows (the ladder in `breachLine` below).
      val qvField =
        if (!withQv) ""
        else s""""qv":[${results.map(r => f(r._2)).mkString(",")}],"""
      s"""{"metric":"total","value":${f(total)},"cal":${f(cal)},""" +
        s""""cal2":${f(cal2)},$burstField$qburstField""" +
        s"""${recheckFields(shedRecheck)}""" +
        s""""mcal":[${midCals.map(f).mkString(",")}],""" +
        s""""io":[${ioCals.map(fmtIo).mkString(",")}],""" +
        s""""nq":${results.size},$qvField"queries":$qs,""" +
        s""""sf":"$sfName","rps":${throughput.toLong}}"""
    }
    val breachLine =
      if (bars.nonEmpty)
        Seq(assembleBreachOnly(false, true), assembleBreachOnly(true, true),
            assembleBreachOnly(false, false), assembleBreachOnly(true, false))
          .find(_.length <= 1985)
      else None
    val line = breachLine.getOrElse(
      (0 to 4).map(assemble)
        .find(_.length <= 1985).getOrElse(assembleTruncated()))

    // full-fidelity copy, no byte budget: FULL query names, 2-decimal
    // seconds, rps — the 89-query inventory no longer fits the
    // 2,000-byte stdout window at this fidelity (the shedding ladder
    // above exists for exactly that), so the unabridged line lives in
    // the repo file instead. Git-tracked deliberately: a round-end
    // commit preserves the per-query numbers of the LAST bench run on
    // this box at full precision next to the captured stdout tail.
    val fullLine = {
      val f = fmt(0) _
      val qs = results.map { case (k, v) => "\"" + k + "\":" + f(v) }
        .mkString("{", ",", "}")
      val mcal = s""""mcal":[${midCals.map(f).mkString(",")}],""" +
        s""""io":[${ioCals.map(fmtIo).mkString(",")}],"""
      val cal3Field = cal3.map(c => s""""cal3":${f(c)},""").getOrElse("")
      // retried rows at full fidelity:
      // name -> [original, retry, retry's bracketing cal]
      val retryField =
        if (retried.isEmpty) ""
        else retried.map { case (n, o, r, rc) =>
          "\"" + n + "\":[" + f(o) + "," + f(r) + "," + f(rc) + "]"
        }.mkString(""""retried":{""", ",", "},")
      // the recheck pass at full fidelity: every re-run breach row's
      // second reading plus the pass's bracketing cal
      val recheckField =
        if (recheck.isEmpty) ""
        else s""""rcal":${f(recheckCal)},""" +
          recheck.map { case (n, v) => "\"" + n + "\":" + f(v) }
            .mkString(""""recheck":{""", ",", "},")
      // where each row's seconds went (graft.obs.QueryProfile.Row)
      val profile = ordered.map { case (n, _) =>
        graft.core.Json.quote(n) + ":" + prof.json(n)
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${f(total)},"cal":${f(cal)},""" +
        s""""cal2":${f(cal2)},$cal3Field$mcal$retryField$recheckField""" +
        s""""queries":$qs,"sf":"$sfName",""" +
        s""""rps":${throughput.toLong},"profile":$profile}"""
    }

    // persist BEFORE stop(): a hung (not just throwing) shutdown hook
    // must not cost the completed run its result line — the file is the
    // recovery copy; stdout stays the driver's channel. Relative to the
    // working directory: `sbt runMain` runs from the checkout root, so
    // each checkout writes its own copy.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_last.json"),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] persist failed: $e")
    }

    // stop Spark BEFORE printing so the JSON line is the last stdout
    // write of the process — nothing (shutdown logs included) can land
    // after it inside the driver's capture window. A failing stop()
    // must not cost the completed run its result line.
    try spark.stop()
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] spark.stop failed: $e")
    }
    println(line)
    System.out.flush()
  }
}
