package perfbench

/**
 * Per-layer metrics of a traced run, from the traced operations only. Counts
 * and times are per traced operation (so layer times add up to operation
 * latency), read-layer figures are per plan, and jvm figures cover the
 * whole timed window.
 */
object Layers {
  def compute(h: Harness, w: Workload, gcMs: Long, heapPeakMb: Double): Seq[Metric] = {
    val ops = h.tracedOps
    val n = math.max(ops.size, 1).toDouble
    val all = h.allSpans
    val jobNs = h.jobCoveredNs(all)
    val aggs = ops.flatMap(o => h.listener.map(_.agg(o.id)))
    def execSum(f: ExecListener#Agg => Long): Double = aggs.map(a => f(a).toDouble).sum
    val jobs = all.filter(_.name == "exec.job")
    val plans = math.max(h.counts("read.plans"), 1.0)
    val storage = ops.map(o => h.storageOf(o.id))
    def st(f: Array[Long] => Long): Double = storage.map(f(_).toDouble).sum / n
    val inRows = execSum(_.inRows)
    val overhead = {
      val (on, off) = (h.ms(w.primaryKind, traced = true), h.ms(w.primaryKind))
      if (on.isEmpty || off.isEmpty) 0.0 else (Harness.median(on) / Harness.median(off) - 1) * 100
    }
    Seq(
      Metric("read.plan_ms", h.meanSpanMs("read.plan"), "ms"),
      Metric("read.manifests_read", h.counts("read.manifests_read") / plans, "count"),
      Metric("read.manifests_pruned", h.counts("read.manifests_pruned") / plans, "count"),
      Metric("read.data_files_kept", h.counts("read.data_files_kept") / plans, "count"),
      Metric("read.data_files_total", h.counts("read.data_files_total") / plans, "count"),
      Metric("read.files_kept_ratio",
        h.counts("read.data_files_kept") / math.max(h.counts("read.data_files_total"), 1.0), "ratio"),
      Metric("read.delete_files_kept", h.counts("read.delete_files_kept") / plans, "count"),
      Metric("sources.compile_ms", h.meanSpanMs("sources.compile"), "ms"),
      Metric("exec.jobs", jobs.size / n, "count"),
      Metric("exec.stages", execSum(_.stages) / n, "count"),
      Metric("exec.tasks", execSum(_.tasks) / n, "count"),
      Metric("exec.job_ms", jobNs.values.sum / 1e6 / n, "ms"),
      Metric("exec.task_ms", execSum(_.taskMs) / n, "ms"),
      Metric("exec.input_bytes", execSum(_.inBytes) / n, "bytes"),
      Metric("exec.input_rows", inRows / n, "count"),
      Metric("exec.rows_out_per_input_row", h.counts("exec.rows_out") / math.max(inRows, 1.0), "ratio"),
      Metric("exec.shuffle_write_bytes", execSum(_.shuffleWrite) / n, "bytes"),
      Metric("exec.shuffle_read_bytes", execSum(_.shuffleRead) / n, "bytes"),
      Metric("exec.spill_bytes", execSum(_.spill) / n, "bytes"),
      Metric("driver.self_ms", h.driverMs(ops), "ms"),
      Metric("storage.requests.metadata", st(CountingFs.requests(_, "metadata")), "count"),
      Metric("storage.requests.manifest", st(CountingFs.requests(_, "manifest")), "count"),
      Metric("storage.requests.parquet", st(CountingFs.requests(_, "parquet")), "count"),
      Metric("storage.requests.puffin", st(CountingFs.requests(_, "puffin")), "count"),
      Metric("storage.lists", st(CountingFs.sumOp(_, "list")), "count"),
      Metric("storage.bytes_read", st(CountingFs.sumOp(_, "bytes_read")), "bytes"),
      Metric("storage.bytes_written", st(CountingFs.sumOp(_, "bytes_written")), "bytes"),
      Metric("storage.files_created", st(CountingFs.sumOp(_, "create")), "count"),
      Metric("jvm.gc_ms", gcMs.toDouble, "ms"),
      Metric("jvm.heap_peak_mb", heapPeakMb, "MB"),
      Metric("trace.overhead_pct", overhead, "%"),
      Metric("trace.ops", ops.size.toDouble, "count"))
  }

  /** Self time of each span name: its duration minus the part its child
    * spans cover, averaged over its occurrences. */
  def selfTimes(all: Seq[Span]): Seq[(String, Double, Int)] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, xs) =>
      val self = xs.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        (s.end - s.start) - Harness.covered(kids, s.start, s.end)
      }
      (name, self.sum / 1e6 / xs.size, xs.size)
    }
  }

  def writeSpans(h: Harness, file: String): Unit = {
    val all = h.allSpans
    val out = new java.io.PrintWriter(file, "UTF-8")
    try {
      all.sortBy(_.start).foreach { s =>
        out.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", """ +
          s""""start_ns": ${s.start}, "end_ns": ${s.end}}""")
      }
    } finally out.close()
    selfTimes(all).foreach { case (name, ms, count) =>
      println(s"[perfbench] self_ms.$name ${Main.num(ms)} ms (n=$count)")
    }
  }
}
