package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock with sub-millisecond resolution, aligned to the epoch
  * milliseconds Spark stamps on its listener events. */
object Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed operation. Spans of one ack, read or gate share `id`;
  * `parent` is the enclosing span (0 = the workload span). */
final case class Span(id: Int, name: String, kind: String, parent: Int,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  var plan: Option[String] = None
}

/** Spans recorded by the benchmark around its calls into the program. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  private var next = 1
  def time[T](name: String, kind: String)(body: => T): (T, Span) = {
    val t0 = Clock.nowMs
    val out = body
    val s = Span(next, name, kind, 0, t0, Clock.nowMs)
    next += 1
    all += s
    (out, s)
  }
  def ofKind(kinds: String*): Seq[Span] = all.filter(s => kinds.contains(s.kind)).toSeq
}

/** Counters the kernel keeps for this process. */
object Proc {
  private def fields(file: String): Map[String, String] =
    try Files.readAllLines(Paths.get(file)).asScala.flatMap { l =>
      l.split(":", 2) match {
        case Array(k, v) => Some(k.trim -> v.trim)
        case _ => None
      }
    }.toMap
    catch { case _: java.io.IOException => Map.empty }
  /** rchar, wchar, syscr, syscw, read_bytes, write_bytes. */
  def io(): Map[String, Long] =
    fields("/proc/self/io").flatMap { case (k, v) => v.toLongOption.map(k -> _) }
  /** A `VmXXX` line of /proc/self/status, in MB. */
  def statusMb(key: String): Double =
    fields("/proc/self/status").get(key)
      .flatMap(_.stripSuffix("kB").trim.toLongOption).getOrElse(0L) / 1024.0
}

object Jvm {
  /** Collection time (ms) and count summed over all collectors. */
  def gc(): (Long, Long) = {
    var ms = 0L; var n = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach { g =>
      ms += math.max(0L, g.getCollectionTime); n += math.max(0L, g.getCollectionCount)
    }
    (ms, n)
  }
}

/** Runs `body` as one timed op span; a traced run also records the
  * process I/O counters across it. */
object Timed {
  def apply[T](spans: Spans, traced: Boolean, name: String, kind: String)(
      body: => T): (T, Span) = {
    val io0 = if (traced) Proc.io() else Map.empty[String, Long]
    val r = spans.time(name, kind)(body)
    if (traced) {
      val io1 = Proc.io()
      for ((k, n) <- Seq("wchar" -> "wchar_bytes", "rchar" -> "rchar_bytes",
          "syscw" -> "syscw", "syscr" -> "syscr"))
        r._2.attrs(s"io.$n") = (io1.getOrElse(k, 0L) - io0.getOrElse(k, 0L)).toDouble
    }
    r
  }
}

/** Wraps a workload's measured phase: marks its start and records
  * JVM collection time and peak heap across it. */
object Measure {
  def apply(o: Outcome)(loop: => Unit): Unit = {
    val (gcMs0, gcN0) = Jvm.gc()
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    pools.foreach(_.resetPeakUsage())
    o.measureStartMs = Clock.nowMs
    loop
    val (gcMs1, gcN1) = Jvm.gc()
    o.extra("jvm.gc_ms") = gcMs1 - gcMs0
    o.extra("jvm.gc_count") = gcN1 - gcN0
    o.extra("jvm.heap_peak_mb") = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}

/** All regular files under a directory with their sizes. */
object Dir {
  def files(root: Path): Map[String, (Long, Long)] =
    if (!Files.isDirectory(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }
  def bytes(root: Path): Long = files(root).values.map(_._1).sum
}

final case class JobRec(id: Int, startMs: Double, stages: Seq[Int],
    module: String, callSite: String) { var endMs: Double = startMs }
final case class StageRec(id: Int, tasks: Int, runMs: Double, cpuMs: Double,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, inputBytes: Long)
final case class QeRec(startMs: Double, phases: Map[String, Double], exchanges: Int,
    smj: Int, filesRead: Long, plan: String, nodes: Int)

/** The traced run's listeners, registered by the benchmark on the
  * session: Spark jobs and stages, Catalyst phases and plans of every
  * query execution, and streaming progress. Jobs are attributed to a
  * graft module by the source file of their `callSite.short`. */
final class Tracer(spark: SparkSession, moduleOfFile: Map[String, String]) {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val sqlDesc = mutable.HashMap.empty[Long, String]
  val qes = mutable.ArrayBuffer.empty[QeRec]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private def moduleOf(callSite: String): String = {
    // "collect at CdcApply.scala:254"
    val file = callSite.split(" at ").lastOption.getOrElse("").split(":").head.trim
    moduleOfFile.getOrElse(file, "other")
  }

  private val bus = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // the result stage is named after the job's call site; a job that
      // adaptive execution submits from its own threads takes the call
      // site of the SQL execution it belongs to
      val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).flatMap(_.toLongOption)
      val cs = if (moduleOf(own) != "other") own
        else exec.flatMap(sqlDesc.get).getOrElse(own)
      // a streaming query's jobs all carry the call site of its start();
      // they are the micro-batch's, whatever graft code launched them
      val streaming = Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null)
      if (streaming) jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, e.stageIds,
        "streaming", "micro-batch")
      else jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, e.stageIds,
        moduleOf(cs), cs.replaceAll("\\s+", " ").trim)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages(i.stageId) = StageRec(i.stageId, i.numTasks,
        m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized { sqlDesc(s.executionId) = s.description }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def record(qe: QueryExecution): Unit = {
    val plan = Tracer.finalPlan(qe.executedPlan)
    val nodes = Tracer.flatten(plan)
    def metric(n: SparkPlan, k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
    val phases = qe.tracker.phases
    // attributed by when Catalyst started on the query
    val rec = QeRec(phases.values.map(_.startTimeMs.toDouble).minOption.getOrElse(0.0),
      phases.map { case (k, v) => k -> v.durationMs.toDouble },
      nodes.count(n => n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[BroadcastExchangeLike]),
      nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      // files a V1 scan listed, or the splits a DSv2 scan planned
      nodes.map {
        case b: BatchScanExec => b.inputPartitions.size.toLong
        case n => metric(n, "numFiles")
      }.sum,
      Tracer.fingerprint(plan), nodes.size)
    synchronized { qes += rec }
  }

  spark.sparkContext.addSparkListener(bus)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** (op span id, job) for every job an op span owns, after [[attribute]]. */
  var jobSpans: Seq[(Int, JobRec)] = Nil

  /** Attribute jobs and query executions to the op spans they started
    * in, and fill each span's per-layer attributes. */
  def attribute(ops: Seq[Span]): Unit = synchronized {
    val sorted = ops.sortBy(_.startMs).toArray
    def owner(t: Double): Option[Span] = {
      // the last op that started at or before t and had not ended before it
      var lo = 0; var hi = sorted.length - 1; var best = -1
      while (lo <= hi) {
        val mid = (lo + hi) / 2
        if (sorted(mid).startMs <= t + 0.5) { best = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (best >= 0 && t <= sorted(best).endMs + 1.0) Some(sorted(best)) else None
    }
    val jobsOf = jobs.values.groupBy(j => owner(j.startMs)).collect { case (Some(s), js) => s.id -> js.toSeq }
    jobSpans = jobsOf.toSeq.flatMap { case (op, js) => js.map(j => op -> j) }
    val qesOf = qes.groupBy(q => owner(q.startMs)).collect { case (Some(s), qs) => s.id -> qs.toSeq }
    sorted.foreach { s =>
      val js = jobsOf.getOrElse(s.id, Nil)
      def jobMs(j: JobRec) = j.endMs - j.startMs
      for (m <- Seq("cdc", "tables", "api", "streaming")) {
        s.attrs(s"$m.jobs") = js.count(_.module == m).toDouble
        s.attrs(s"$m.job_ms") = js.filter(_.module == m).map(jobMs).sum
      }
      s.attrs("other.job_ms") = js.filterNot(j =>
        Set("cdc", "tables", "api", "streaming")(j.module)).map(jobMs).sum
      s.attrs("driver.off_job_ms") = s.ms - Tracer.unionMs(
        js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs))))
      val st = js.flatMap(_.stages).flatMap(stages.get)
      s.attrs("spark.jobs") = js.size.toDouble
      s.attrs("spark.stages") = st.size.toDouble
      s.attrs("spark.tasks") = st.map(_.tasks).sum.toDouble
      s.attrs("spark.executor_run_ms") = st.map(_.runMs).sum
      s.attrs("spark.executor_cpu_ms") = st.map(_.cpuMs).sum
      s.attrs("spark.busy_share") = st.map(_.runMs).sum / math.max(s.ms, 1e-3) / Main.Cores
      s.attrs("spark.shuffle_write_bytes") = st.map(_.shuffleWrite).sum.toDouble
      s.attrs("spark.shuffle_read_bytes") = st.map(_.shuffleRead).sum.toDouble
      s.attrs("spark.spill_bytes") = st.map(_.spill).sum.toDouble
      val qs = qesOf.getOrElse(s.id, Nil)
      for (p <- Seq("analysis", "optimization", "planning"))
        s.attrs(s"sql.${p}_ms") = qs.map(_.phases.getOrElse(p, 0.0)).sum
      s.attrs("plan.exchanges") = qs.map(_.exchanges).sum.toDouble
      s.attrs("plan.smj") = qs.map(_.smj).sum.toDouble
      s.attrs("scan.files_read") = qs.map(_.filesRead).sum.toDouble
      s.attrs("scan.bytes_read") = st.map(_.inputBytes).sum.toDouble
      // the op's main plan: the largest executed plan among its queries
      if (qs.nonEmpty) s.plan = Some(qs.maxBy(_.nodes).plan)
      // job time by call site, so the doc can name what `other` holds
      js.groupBy(_.callSite).foreach { case (cs, g) =>
        s.attrs(s"callsite:${g.head.module}:$cs") = g.map(jobMs).sum }
    }
  }
}

object Tracer {
  def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }
  def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => flatten(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }
  /** Plan tree text with expression ids, plan ids, object hashes and
    * paths normalised, so two runs of the same plan compare equal. */
  def fingerprint(p: SparkPlan): String =
    p.treeString(verbose = false)
      .replaceAll("#\\d+L?", "#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("(file|hdfs|s3a?):[^ ,\\]\\)]+", "<path>")
      .replaceAll("/[A-Za-z0-9_./=-]+", "<path>")
      .replaceAll("@[0-9a-f]{5,}", "@H")
      .replaceAll("\\d+ paths", "N paths")
  /** Length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
