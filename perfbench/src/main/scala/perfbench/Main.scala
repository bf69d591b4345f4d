package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, data: Path, src: Path, out: Path)

/** What a workload hands back: end-to-end metrics, the op outcome
  * counts, extra detail for the artifact, and the fixture set-up
  * repetitions (seconds each) that `setup_s` takes the median of. */
final class Outcome {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var fixtureRepsS: Seq[Double] = Nil
  var measureStartMs = 0.0
  /** Counts one checked operation; a failure is named, never dropped. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) errors += what
  }
}

object Main {
  val Cores = 4

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", a.work.resolve("ckpt-default").toString)
      // the local-mode filesystem wiring graft.Bench uses
      .config("spark.hadoop.fs.file.impl", classOf[graft.fs.FastRawLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.fs.FastLocalFs].getName)
      // SQL reads of the ingest table go through the GraftCatalog surface
      .config("spark.sql.catalog.gc", classOf[graft.tables.GraftCatalog].getName)
      .config("spark.sql.catalog.gc.root", a.work.resolve("store").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def p(k: String) = Paths.get(m(k)).toAbsolutePath
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.get("trace").contains("1"), p("work"), p("data"), p("src"), p("out"))
  }

  /** graft source file name -> module (the package directory under
    * src/main/scala/graft), read from the checkout being measured. */
  private def modules(src: Path): Map[String, String] = {
    val root = src.resolve("main/scala/graft")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).map { f =>
      val rel = root.relativize(f)
      f.getFileName.toString -> (if (rel.getNameCount > 1) rel.getName(0).toString else "graft")
    }.toMap
    finally s.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    val tracer = if (a.trace) Some(new Tracer(spark, modules(a.src))) else None
    val spans = new Spans
    val o = new Outcome
    Workloads.byName(a.workload)(spark, a, spans, o, tracer)
    // set-up = JVM start to the first timed op, counting the fixture
    // creation once at the median of its repetitions
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val reps = o.fixtureRepsS
    val setupS = (o.measureStartMs - jvmStartMs) / 1000.0 - reps.sum + Stats.median(reps)
    o.e2e("setup_s") = setupS
    o.e2e("peak_rss_mb") = Proc.statusMb("VmHWM")
    o.e2e("error_rate") = o.errors.size.toDouble / math.max(o.attempted, 1L)
    val perLayer = tracer.map { t => t.drain(); Layers.summarize(t, spans, o) }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "attempted" -> o.attempted, "failed" -> o.errors.size,
      "errors" -> o.errors.take(50).toSeq,
      "e2e" -> o.e2e, "extra" -> o.extra,
      "setup" -> Map("jvm_start_to_measure_s" -> (o.measureStartMs - jvmStartMs) / 1000.0,
        "fixture_reps_s" -> reps),
      "versions" -> Map("spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString))
    perLayer.foreach(p => result("per_layer") = p)
    Files.writeString(a.out, mapper.writeValueAsString(result))
    if (a.trace) {
      // every span, one JSON object per line, with its plan fingerprint
      val ops = spans.all.map { s =>
        mapper.writeValueAsString(mutable.LinkedHashMap[String, Any](
          "id" -> s.id, "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs,
          "plan" -> s.plan.orNull))
      }
      // Spark jobs, children of the op span they ran in; they share its id
      val jobs = tracer.toSeq.flatMap(_.jobSpans).map { case (op, j) =>
        mapper.writeValueAsString(mutable.LinkedHashMap[String, Any](
          "id" -> op, "name" -> j.callSite, "kind" -> "job", "parent" -> op,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs, "module" -> j.module,
          "job_id" -> j.id))
      }
      val lines = ops ++ jobs
      Files.write(Paths.get(a.out.toString.stripSuffix(".json") + ".spans.jsonl"), lines.asJava)
    }
    spark.streams.active.foreach(_.stop())
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** The highest percentile with at least ten samples beyond it, and
    * which percentile that is; the maximum when there are ten or fewer. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0)
    else if (n <= 10) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
  /** The median of the slower half (the larger middle element counts
    * in it for an odd count): a 75th percentile that few samples still
    * give steadily, where the maximum of them would not. */
  def slowHalfMedian(xs: Seq[Double]): Double = median(xs.sorted.drop(xs.size / 2))
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}
