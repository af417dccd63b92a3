package latbench

import scala.collection.mutable.ArrayBuffer

/** Per-layer metrics of a traced run: micro-batch phases and state from
  * the open-loop phase; per-batch Spark work and file-system counts from
  * the traced closed-loop chunks; operator times from the split pass. A
  * metric a workload does not exercise reads 0. */
object Layers {
  def metrics(workload: String, w: Workload, log: ProgressLog, jobs: JobLog,
      openStart: Long, openEnd: Long, traced: Seq[(Long, Long)], fs: FsSnap,
      split: Seq[(Double, Double, Double)]): Seq[(String, Double, String)] = {
    val qids = w.queries.map(_.id.toString)
    def within(s: Long, e: Long)(b: Batch) = b.startMs >= s && b.startMs <= e
    val open = qids.flatMap(log.of).filter(within(openStart, openEnd))
    val closed = qids.flatMap(log.of).filter(_.inputRows > 0)
      .filter(b => traced.exists { case (s, e) => within(s, e)(b) })
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def dur(b: Batch, k: String) = b.durations.getOrElse(k, 0L).toDouble
    def perBatch(bs: Seq[Batch])(f: jobs.Acc => Long): Double =
      if (bs.isEmpty) 0.0
      else bs.flatMap(b => jobs.get(b.query, b.batchId)).map(a =>
        a.synchronized(f(a))).sum.toDouble / bs.length
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    val m = ArrayBuffer.empty[(String, Double, String)]
    m += (("streaming.trigger_ms_p50", p50(open.map(_.triggerMs.toDouble)), "ms"))
    m += (("streaming.add_batch_ms_p50", p50(open.map(dur(_, "addBatch"))), "ms"))
    m += (("streaming.plan_ms_p50", p50(open.map(dur(_, "queryPlanning"))), "ms"))
    m += (("streaming.log_commit_ms_p50",
      p50(open.map(b => dur(b, "walCommit") + dur(b, "commitOffsets"))), "ms"))
    m += (("streaming.driver_gap_ms_p50", p50(open.flatMap(jobs.driverGapMs)), "ms"))
    m += (("streaming.batches_per_s",
      ratio(open.length, (openEnd - openStart) / 1000.0), "1/s"))
    m += (("streaming.empty_batch_share",
      ratio(open.count(_.inputRows == 0), open.length), "share"))
    m += (("streaming.jobs_per_batch", perBatch(open)(_.jobs), "count"))
    val stateful = open.filter(_.stateRows > 0)
    m += (("streaming.state_commit_ms_p50",
      p50(stateful.map(_.stateCommitMs.toDouble)), "ms"))
    m += (("streaming.state_update_ms_per_krow",
      1000 * ratio(stateful.map(_.stateUpdateMs).sum,
        stateful.map(_.stateRowsUpdated).sum), "ms/krow"))
    m += (("streaming.state_rows",
      stateful.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "rows"))
    m += (("streaming.state_bytes",
      stateful.lastOption.map(_.stateBytes.toDouble).getOrElse(0.0), "bytes"))
    m += (("streaming.state_rows_removed",
      open.map(_.stateRowsRemoved).sum.toDouble, "rows"))

    val serve = if (workload == "serve_stored") closed else Nil
    m += (("operators.serve.jobs_per_batch", perBatch(serve)(_.jobs), "count"))
    m += (("operators.serve.tasks_per_batch", perBatch(serve)(_.tasks), "count"))
    m += (("operators.serve.task_cpu_ms_per_batch",
      perBatch(serve)(_.cpuNs) / 1e6, "ms"))
    m += (("operators.serve.records_read_per_batch",
      perBatch(serve)(_.records), "rows"))
    m += (("operators.serve.bytes_read_per_batch",
      perBatch(serve)(_.bytesRead), "bytes"))
    m += (("operators.serve.shuffle_bytes_per_batch",
      perBatch(serve)(_.shuffleBytes), "bytes"))
    m += (("operators.serve.bm25_ms_p50", p50(split.map(_._1)), "ms"))
    m += (("operators.serve.ivf_ms_p50", p50(split.map(_._2)), "ms"))
    m += (("operators.serve.fuse_ms_p50", p50(split.map(_._3)), "ms"))

    val ingest = if (workload == "ingest_stored") closed else Nil
    def addBatchOf(i: Int) = p50(ingest.filter(_.query == qids(i)).map(dur(_, "addBatch")))
    m += (("operators.ingest.bm25_batch_ms_p50",
      if (ingest.isEmpty) 0.0 else addBatchOf(0), "ms"))
    m += (("operators.ingest.ivf_batch_ms_p50",
      if (ingest.isEmpty) 0.0 else addBatchOf(1), "ms"))
    m += (("operators.ingest.jobs_per_batch", perBatch(ingest)(_.jobs), "count"))
    m += (("operators.ingest.task_cpu_ms_per_batch",
      perBatch(ingest)(_.cpuNs) / 1e6, "ms"))
    m += (("operators.ingest.bytes_written_per_batch",
      perBatch(ingest)(_.bytesWritten), "bytes"))

    val n = closed.length.toDouble
    m += (("sources.fs_bytes_read_per_batch", ratio(fs.bytesRead, n), "bytes"))
    m += (("sources.fs_bytes_written_per_batch", ratio(fs.bytesWritten, n), "bytes"))
    m += (("sources.fs_meta_calls_per_batch", ratio(fs.meta, n), "count"))
    m += (("sources.files_created_per_batch", ratio(fs.created, n), "count"))
    m += (("sources.renames_per_batch", ratio(fs.renames, n), "count"))
    m.toSeq
  }
}
