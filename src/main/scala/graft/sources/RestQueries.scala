package graft.sources

import org.apache.spark.sql.functions._
import graft.Tables._

/** Registers the rest_source connector as a runnable query: spins up the
  * in-JVM stub API (deterministic data, independent of sfDir) and reads it
  * through the DSv2 path. The stub feed is a deterministic closed form
  * (RestStubServer.recordJson), so the DuckDB oracle reconstructs the same
  * 1000 records from `range(0, 1000)` — the driver hash-checks the whole
  * extract→aggregate path, not just rows>0. The unit suite covers
  * pushdown, auth, pagination, pacing and the four failure classes. */
object RestQueries extends graft.Bank {
  private lazy val stub = RestStubServer.start(totalRows = 1000L)

  val queries: Map[String, QFn] = Map(
    "rest_source" -> ((s, _) => {
      s.read.format("graft.sources.RestSource")
        .option("url", stub.url)
        .option("pages", "20")
        .option("pageSize", "50")
        .load()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"))
        .orderBy(col("event_type"))
    }),

    // the reference's CONTINUOUS ingestion loop (README.md:33) literally:
    // the REST connector as a Structured Streaming source, draining the
    // paginated API 5 pages per micro-batch until caught up.
    "stream_rest_ingest" -> ((s, _) => {
      val stream = s.readStream.format("graft.sources.RestSource")
        .option("url", stub.url).option("pages", "20").option("pageSize", "50")
        .option("pagesPerTrigger", "5")
        .load()
      graft.streaming.Streams.drain(s, "rest_ingest", stream.writeStream
        .format("memory").queryName("mem_rest_ingest").outputMode("append"))
      s.table("mem_rest_ingest")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"))
        .orderBy(col("event_type"))
    }),

    "etl_end_to_end" -> ((s, dir) => etlEndToEnd(s, dir)),

    // the spec's pipeline through BOTH custom DSv2 connectors: extract
    // from the paginated API (RestSource, reader path) → stamp the audit
    // timestamp (README.md:29) → load into the document collection
    // (DocSink, writer path with the staging/manifest commit) → read the
    // collection back and summarize. The oracle is the stub feed's closed
    // form, so the hash check spans the whole extract→load→readback loop:
    // any JSON-rendering or commit-protocol defect breaks the values.
    "dsv2_pipeline" -> ((s, _) => {
      val out = graft.Scratch.path(s, "docsink_pipeline").toString
      s.read.format("graft.sources.RestSource")
        .option("url", stub.url).option("pages", "20").option("pageSize", "50")
        .load()
        .withColumn("_ingested_at", lit("2026-01-01 00:00:00").cast("timestamp"))
        .write.format("graft.sources.DocSink")
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("path", out).save()
      s.read
        .schema("event_id BIGINT, event_type STRING, value DOUBLE, _ingested_at TIMESTAMP")
        .option("pathGlobFilter", "*.jsonl").json(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"))
        .orderBy(col("event_type"))
    }))

  /** The reference's full pipeline (README.md:21-34) as ONE query:
    * extract (paginated REST, DSv2) → transform (clean/cast) → validate
    * (rule tagging) → load (audit columns + keyed upsert) → summarize.
    * Oracled via the stub feed's closed form (see `stubRows` below), and
    * asserted independently in the unit suite. */
  val etlEndToEnd: graft.Tables.QFn = (s, _) => {
    import org.apache.spark.sql.expressions.Window
    val extracted = s.read.format("graft.sources.RestSource")
      .option("url", stub.url).option("pages", "20").option("pageSize", "50")
      .load()
    val transformed = extracted
      .withColumn("event_type", lower(trim(col("event_type"))))
      .withColumn("value", col("value").cast("double"))
    val validated = transformed.withColumn("_valid",
      col("value") >= 0 && col("event_type").isin("click", "view", "purchase", "signup", "error"))
    val audited = validated.filter(col("_valid"))
      .withColumn("_ingested_at", lit("2026-01-01 00:00:00").cast("timestamp"))
      .withColumn("_source", lit("rest_stub"))
    // idempotent load: keyed upsert (latest _ingested_at wins)
    val w = Window.partitionBy(col("event_id")).orderBy(col("_ingested_at").desc)
    val loaded = audited.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    loaded.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_loaded"), dsum(col("value")).as("v"))
      .orderBy(col("event_type"))
  }

  // closed form of RestStubServer.recordJson over ids 0..999 (20 pages ×
  // 50): type = types[(id·2654435761) mod 5], value = ((id·1315423911)
  // mod 10000) / 100 — pure BIGINT arithmetic, identical in both engines.
  private val stubRows =
    """(SELECT ['click','view','purchase','signup','error'][CAST((i * 2654435761) % 5 AS INTEGER) + 1] AS event_type,
        ((i * 1315423911) % 10000) / 100.0 AS value
        FROM range(0, 1000) t(i))"""

  val oracles: Map[String, String] = Map(
    "rest_source" ->
      s"""SELECT event_type, count(1) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v
         FROM $stubRows GROUP BY event_type ORDER BY event_type""",
    // the streaming drain covers the same 20 pages → identical closed form
    "stream_rest_ingest" ->
      s"""SELECT event_type, count(1) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v
         FROM $stubRows GROUP BY event_type ORDER BY event_type""",
    // every stub record is valid and each event_id arrives once, so the
    // pipeline's load stage passes all 1000 rows through
    "etl_end_to_end" ->
      s"""SELECT event_type, count(1) AS n_loaded,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v
         FROM $stubRows GROUP BY event_type ORDER BY event_type""",
    // the DocSink round-trip preserves every extracted record exactly, so
    // the collection summarizes to the same closed form
    "dsv2_pipeline" ->
      s"""SELECT event_type, count(1) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v
         FROM $stubRows GROUP BY event_type ORDER BY event_type"""
  ).map { case (k, v) => k -> v.replaceAll("\\s+", " ").trim }
}
