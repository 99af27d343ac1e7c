package perfbench

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.RestStubServer

/** The bulk connector job, built only from the engine's public API: the
  * reference's own extract → transform → load loop.
  *
  * It serves `rows` records from the in-process REST stub, extracts them
  * with `RestSource` (page protocol), cleans, validates and audit-stamps
  * them, overwrites them into a `DocSink` collection, reads the collection
  * back, and checks every record against the stub's closed form
  * (`expectedType` / `expectedValue`). Only counts reach the driver. */
object Pipeline {
  val Name = "connector_bulk"
  val Rows = 10000L
  val PageSize = 500

  final case class Result(rows: Long, ok: Boolean, detail: String)

  def run(spark: SparkSession, rows: Long, out: String, tracer: Tracer): Result = {
    val stub = tracer.span("stub", "pipeline")(_ => RestStubServer.start(totalRows = rows))
    try {
      val extracted = tracer.span("extract", "pipeline") { _ =>
        val df = spark.read.format("graft.sources.RestSource")
          .option("url", stub.url)
          .option("pages", (rows / PageSize).toString)
          .option("pageSize", PageSize.toString)
          .load()
          .cache()
        df.count()
        df
      }
      try {
        tracer.span("load", "pipeline") { _ =>
          extracted
            .withColumn("event_type", lower(trim(col("event_type"))))
            .withColumn("value", col("value").cast("double"))
            .filter(col("value") >= 0 &&
              col("event_type").isin(RestStubServer.types.toSeq: _*))
            .withColumn("_ingested_at", lit("2026-01-01 00:00:00").cast("timestamp"))
            .withColumn("_source", lit("rest_stub"))
            .write.format("graft.sources.DocSink")
            .mode(SaveMode.Overwrite)
            .option("path", out).save()
        }
        tracer.span("readback", "pipeline") { _ => check(spark, rows, out) }
      } finally extracted.unpersist(blocking = true)
    } finally stub.stop()
  }

  private val expectedType = udf((id: Long) => RestStubServer.expectedType(id))
  private val expectedValue = udf((id: Long) => RestStubServer.expectedValue(id))

  private def check(spark: SparkSession, rows: Long, out: String): Result = {
    val r = spark.read
      .schema("event_id BIGINT, event_type STRING, value DOUBLE, " +
        "_ingested_at TIMESTAMP, _source STRING")
      .json(s"$out/*.jsonl")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("ids"),
        min(col("event_id")).as("lo"),
        max(col("event_id")).as("hi"),
        sum(when(col("event_type") =!= expectedType(col("event_id")) ||
          col("value") =!= expectedValue(col("event_id")) ||
          col("_source") =!= "rest_stub" || col("_ingested_at").isNull, 1)
          .otherwise(0)).as("bad"))
      .head()
    val (n, ids, lo, hi) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val bad = r.getLong(4)
    val ok = n == rows && ids == rows && lo == 0L && hi == rows - 1 && bad == 0L
    Result(n, ok, s"rows=$n ids=$ids range=[$lo,$hi] mismatched=$bad")
  }
}
