package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Passes over eight read-only registry gates, each `q.fn` plus a `noop`
  * write: whole passes until the time is up, at least one. */
object Analytics {
  val Gates = Seq("q03_shipping_priority", "q41_map_funcs", "mm_resize",
    "txt_boilerplate", "txt_tfidf", "dd_minhash_lsh", "ds_split_leakfree",
    "ev_asof_native")

  private def release(spark: SparkSession): Unit = {
    // what graft.Bench drops between gates: cached frames and the
    // local checkpoints some operators keep
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def run(spark: SparkSession, a: Args, spans: Spans, o: Outcome, tracer: Option[Tracer]): Unit = {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val gates = Gates.map(byName)
    val data = a.data.toString
    // JIT and codegen warmup on the small tables, four gates at a time;
    // no measured data is read. Each warmup writes the gate's result for
    // the DuckDB oracle comparison (untimed). Nothing is released until
    // all are done: a gate may still be reading another's cached frames.
    val tiny = a.data.resolve("tiny").toString
    val outDir = a.work.resolve("oracle")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
    try {
      val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val warm = gates.map(q => scala.concurrent.Future(scala.util.Try(
        q.fn(spark, tiny).coalesce(1).write.mode("overwrite")
          .parquet(outDir.resolve(q.name).toString)))(ec))
      warm.zip(gates).foreach { case (f, q) =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf).failed
          .foreach(e => o.check(false, s"warmup ${q.name}: ${e.getMessage}"))
      }
    } finally pool.shutdown()
    release(spark)
    val passes = mutable.ArrayBuffer.empty[Double]
    val times = mutable.LinkedHashMap(Gates.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    Measure(o) {
      val end = Clock.nowMs + a.seconds * 1000
      while (passes.isEmpty || Clock.nowMs < end) {
        val t0 = Clock.nowMs
        gates.foreach { q =>
          val (r, s) = Timed(spans, tracer.isDefined, q.name, "gate")(scala.util.Try(
            q.fn(spark, data).write.mode("overwrite").format("noop").save()))
          o.check(r.isSuccess, s"gate ${q.name} failed: ${r.failed.map(_.toString).getOrElse("")}")
          if (r.isSuccess) times(q.name) += s.ms
          release(spark)
        }
        passes += (Clock.nowMs - t0) / 1000.0
      }
    }
    val perGate = times.map { case (k, v) => k -> Stats.median(v.toSeq) }
    o.extra("passes") = passes.size
    o.extra("gate_ms") = perGate
    o.e2e("suite_s") = Stats.median(passes.toSeq)
    o.e2e("query_geomean_ms") = Stats.geomean(perGate.values.filter(_ > 0).toSeq)
    o.e2e("throughput_per_s") = Gates.size / o.e2e("suite_s")
    o.e2e("op_p50_ms") = o.e2e("query_geomean_ms")
    o.e2e("op_tail_ms") = perGate.values.max
    o.extra("oracle_sql") = gates.flatMap(q => q.oracle.map(q.name -> _)).toMap
    o.extra("oracle_data") = tiny
    o.extra("oracle_dir") = outDir.toString
  }
}
