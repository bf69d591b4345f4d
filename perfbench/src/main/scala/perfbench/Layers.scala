package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, from the spans the workload
  * recorded and what the listeners saw. Every name is always present;
  * a layer a workload does not exercise reads 0. */
object Layers {
  val ReadKinds = Seq("point", "range", "agg")
  val StreamPhases = Seq("trigger" -> "triggerExecution", "add_batch" -> "addBatch",
    "wal_commit" -> "walCommit", "commit_offsets" -> "commitOffsets",
    "latest_offset" -> "latestOffset", "query_planning" -> "queryPlanning")

  def summarize(t: Tracer, spans: Spans, o: Outcome): mutable.LinkedHashMap[String, Double] = {
    val ops = spans.ofKind("ack", "microbatch", "read", "gate")
    t.attribute(ops)
    val acks = spans.ofKind("ack", "microbatch")
    val reads = spans.ofKind("read")
    val gates = spans.ofKind("gate")
    val m = mutable.LinkedHashMap.empty[String, Double]
    def mean(ss: Seq[Span], k: String) = Stats.mean(ss.map(_.attrs.getOrElse(k, 0.0)))
    def extra(k: String) = o.extra.get(k).map(_.toString.toDouble).getOrElse(0.0)
    // job attribution per ack; per gate on a workload without acks
    for (k <- Seq("cdc.jobs", "cdc.job_ms", "tables.jobs", "tables.job_ms",
        "api.job_ms", "streaming.job_ms", "other.job_ms", "driver.off_job_ms"))
      m(k) = mean(if (acks.nonEmpty) acks else ops, k)
    for (k <- Seq("tables.snapshot_files", "tables.candidate_files", "tables.files_removed",
        "tables.files_added", "tables.bytes_added", "tables.commits_per_ack",
        "tables.maint_commits", "tables.pending_deletes", "io.files_created"))
      m(k) = mean(acks, k)
    val cand = acks.map(_.attrs.getOrElse("tables.candidate_files", 0.0)).sum
    m("tables.prune_precision") =
      if (cand > 0) acks.map(_.attrs.getOrElse("tables.files_removed", 0.0)).sum / cand else 0.0
    m("tables.live_files_end") = extra("tables.live_files_end")
    m("tables.dir_bytes_end") = extra("tables.dir_bytes_end")
    for (kind <- ReadKinds) {
      val rs = reads.filter(_.name == kind)
      m(s"read.${kind}_ms") = Stats.mean(rs.map(_.ms))
      m(s"read.${kind}_files_read") = mean(rs, "scan.files_read")
      m(s"read.${kind}_bytes_read") = mean(rs, "scan.bytes_read")
      m(s"read.${kind}_planning_ms") = Stats.mean(rs.map(s =>
        Seq("analysis", "optimization", "planning").map(p => s.attrs.getOrElse(s"sql.${p}_ms", 0.0)).sum))
    }
    for (k <- Seq("sql.analysis_ms", "sql.optimization_ms", "sql.planning_ms",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
        "spark.executor_cpu_ms", "spark.busy_share", "spark.shuffle_write_bytes",
        "spark.shuffle_read_bytes", "spark.spill_bytes", "plan.exchanges", "plan.smj",
        "io.wchar_bytes", "io.rchar_bytes", "io.syscw", "io.syscr"))
      m(k) = mean(ops, k)
    for (g <- Analytics.Gates)
      m(s"gate.${g}_ms") = Stats.median(gates.filter(_.name == g).map(_.ms))
    // streaming progress of the measured micro-batches
    val first = extra("first_measured_batch_id")
    val prog = t.progress.map(_.progress).filter(p => p.batchId >= first && p.numInputRows > 0)
    def phase(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    for ((name, key) <- StreamPhases)
      m(s"stream.${name}_ms") = Stats.median(prog.map(phase(_, key)).toSeq)
    m("stream.overhead_ms") = Stats.median(prog.map(p =>
      phase(p, "triggerExecution") - phase(p, "addBatch")).toSeq)
    m("jvm.gc_ms") = extra("jvm.gc_ms")
    m("jvm.gc_count") = extra("jvm.gc_count")
    m("jvm.heap_peak_mb") = extra("jvm.heap_peak_mb")
    m("trace.spans") = spans.all.size
    m
  }
}
