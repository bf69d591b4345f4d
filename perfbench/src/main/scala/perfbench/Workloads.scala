package perfbench

import org.apache.spark.sql.SparkSession

object Workloads {
  type Run = (SparkSession, Args, Spans, Outcome, Option[Tracer]) => Unit
  val byName: Map[String, Run] = Map(
    "cdc_small" -> Ingest.small, "cdc_bulk_mor" -> Ingest.bulkMor,
    "cdc_stream" -> Ingest.stream, "analytics" -> Analytics.run)
}
