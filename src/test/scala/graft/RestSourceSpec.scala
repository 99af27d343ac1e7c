package graft

import org.apache.spark.sql.functions._
import graft.sources.RestStubServer

/** rest_source DSv2 connector: pagination, pruning/pushdown, auth, and the
  * reference spec's four failure classes
  * (/root/reference/README.md:33 — invalid response, empty payload, rate
  * limit, connectivity error). */
class RestSourceSpec extends SparkSuite {

  private def read(url: String, extra: (String, String)*) = {
    val base = spark.read.format("graft.sources.RestSource")
      .option("url", url).option("pages", "10").option("pageSize", "20")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  test("etl_end_to_end: extract->transform->validate->load over the live API") {
    val out = q("etl_end_to_end").collect()
    assert(out.map(_.getLong(1)).sum === 1000L, "all stub rows valid & loaded once")
    assert(out.map(_.getString(0)).toSet ===
      Set("click", "view", "purchase", "signup", "error"))
  }

  test("paginated read returns every record exactly once") {
    val stub = RestStubServer.start(totalRows = 200L)
    try {
      val df = read(stub.url)
      assert(df.count() === 200)
      assert(df.agg(countDistinct(col("event_id"))).head.getLong(0) === 200)
      // deterministic stub closed form
      val row = df.filter(col("event_id") === 7).head
      assert(row.getString(1) === RestStubServer.expectedType(7))
      assert(row.getDouble(2) === RestStubServer.expectedValue(7))
    } finally stub.stop()
  }

  test("column pruning reaches the reader (narrow schema)") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      val df = read(stub.url).select("event_id")
      assert(df.schema.fieldNames.toSeq === Seq("event_id"))
      assert(df.count() === 100)
    } finally stub.stop()
  }

  test("event_type equality is pushed down as a query param") {
    val stub = RestStubServer.start(totalRows = 200L)
    try {
      val df = read(stub.url).filter(col("event_type") === "click")
      val expected = (0L until 200L).count(RestStubServer.expectedType(_) == "click")
      assert(df.count() === expected)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("RestScan") || df.count() == expected)
    } finally stub.stop()
  }

  test("incremental extraction: event_id > N is pushed as min_id param") {
    val stub = RestStubServer.start(totalRows = 200L)
    try {
      val df = read(stub.url).filter(col("event_id") > 149L)
      assert(df.count() === 50)
      assert(df.agg(min(col("event_id"))).head.getLong(0) === 150L)
    } finally stub.stop()
  }

  test("contradictory event_type equalities return empty, not wrong rows") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      val df = read(stub.url)
        .filter(col("event_type") === "click")
        .filter(col("event_type") === "view")
      assert(df.count() === 0)
    } finally stub.stop()
  }

  test("rate limit: 429 then success is retried transparently") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      val df = read(stub.url, "failMode" -> "429once")
      assert(df.count() === 100)
    } finally stub.stop()
  }

  test("server error: 500 then success is retried transparently") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      val df = read(stub.url, "failMode" -> "500once")
      assert(df.count() === 100)
    } finally stub.stop()
  }

  test("invalid response: malformed JSON fails loudly, not silently") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      val e = intercept[Exception](read(stub.url, "failMode" -> "malformed").count())
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(t =>
        t.getMessage != null && (t.getMessage.contains("Unexpected end-of-input")
          || t.getMessage.toLowerCase.contains("json"))))
    } finally stub.stop()
  }

  test("empty payload: [] page yields fewer rows, no error") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      val df = read(stub.url, "failMode" -> "empty")
      assert(df.count() === 80) // page 1 of 5 pages suppressed (20 rows)
    } finally stub.stop()
  }

  test("connectivity error: unreachable port fails after retries") {
    val e = intercept[Exception](read("http://127.0.0.1:1/records").count())
    assert(e != null)
  }

  test("user-supplied schema option (DDL) narrows the table schema") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      val df = read(stub.url, "schema" -> "event_id BIGINT, value DOUBLE")
      assert(df.schema.fieldNames.toSeq === Seq("event_id", "value"))
      val row = df.filter(col("event_id") === 7).head
      assert(row.getDouble(1) === RestStubServer.expectedValue(7))
    } finally stub.stop()
  }

  test("inferSchema samples the first page and handles nested objects/arrays") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      val df = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url + "?shape=nested")
        .option("pages", "5").option("pageSize", "20")
        .option("inferSchema", "true")
        .load()
      import org.apache.spark.sql.types._
      val meta = df.schema("meta").dataType.asInstanceOf[StructType]
      assert(meta("kind").dataType === StringType)
      assert(meta("score").dataType === DoubleType)
      assert(df.schema("tags").dataType === ArrayType(StringType))
      assert(df.count() === 100)
      val row = df.filter(col("event_id") === 7)
        .select(col("meta.kind"), col("tags")).head
      assert(row.getString(0) === RestStubServer.expectedType(7))
      assert(row.getSeq[String](1) === Seq("t0", s"t${7 % 3}"))
    } finally stub.stop()
  }

  test("inference: null observations defer to typed ones; junk values null out") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      val df = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url + "?shape=messy")
        .option("pages", "5").option("pageSize", "20")
        .option("inferSchema", "true")
        .load()
      import org.apache.spark.sql.types._
      // score is null on every even id in the sample page but DOUBLE on odd
      // ids — the bottom type must defer, not degrade the field to string
      assert(df.schema("score").dataType === DoubleType)
      assert(df.filter(col("event_id") === 4).head.isNullAt(df.schema.fieldIndex("score")))
      assert(df.filter(col("event_id") === 7).head
        .getDouble(df.schema.fieldIndex("score")) === RestStubServer.expectedValue(7))
      // mixed string/double observations correctly degrade to STRING
      assert(df.schema("value").dataType === StringType)
      // ...but when a user-supplied schema forces DOUBLE, the junk "n/a"
      // decodes as null — never Jackson's lenient 0.0
      val forced = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url + "?shape=messy")
        .option("pages", "5").option("pageSize", "20")
        .option("schema", "event_id BIGINT, value DOUBLE")
        .load()
      val vIdx = forced.schema.fieldIndex("value")
      assert(forced.filter(col("event_id") === 5).head.isNullAt(vIdx))
      assert(forced.filter(col("value") === 0.0 && col("event_id") % 5 === 0).count() === 0)
    } finally stub.stop()
  }

  test("pushed filters are re-evaluated by Spark (hints, not trusted)") {
    val stub = RestStubServer.start(totalRows = 200L)
    try {
      val df = read(stub.url).filter(col("event_type") === "click")
      // the equality is pushed as a query param AND kept in a post-scan
      // Filter so a loosely-filtering server cannot corrupt results
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Filter"), plan)
      val expected = (0L until 200L).count(RestStubServer.expectedType(_) == "click")
      assert(df.count() === expected)
    } finally stub.stop()
  }

  test("Retry-After header is honored on 429 (waits at least the told delay)") {
    val stub = RestStubServer.start(totalRows = 20L)
    try {
      val t0 = System.nanoTime()
      val df = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url).option("pages", "1").option("pageSize", "20")
        .option("failMode", "429retryafter").load()
      assert(df.count() === 20)
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      assert(elapsedMs >= 900, s"should have slept ~1s per Retry-After, took ${elapsedMs}ms")
    } finally stub.stop()
  }

  test("Retry-After HTTP-date form is honored too (RFC 7231 alternative)") {
    val stub = RestStubServer.start(totalRows = 20L)
    try {
      val t0 = System.nanoTime()
      val df = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url).option("pages", "1").option("pageSize", "20")
        .option("failMode", "429retrydate").load()
      assert(df.count() === 20)
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      // the stub mints now+2s truncated to whole seconds, so the real
      // delay is in (1s, 2s] regardless of where in a second "now" falls
      assert(elapsedMs >= 900, s"should have slept until the told date, took ${elapsedMs}ms")
    } finally stub.stop()
  }

  test("requestsPerSecond paces requests (token bucket per reader)") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      val t0 = System.nanoTime()
      val df = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url).option("pages", "5").option("pageSize", "20")
        .option("pagesPerPartition", "5") // one reader → sequential paced requests
        .option("requestsPerSecond", "10").load()
      assert(df.count() === 100)
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      // 5 requests at 10 rps → ≥ 400ms of enforced spacing after the first
      assert(elapsedMs >= 350, s"pacing should enforce ~400ms, took ${elapsedMs}ms")
    } finally stub.stop()
  }

  test("streaming REST source drains pages in bounded micro-batches") {
    val stub = RestStubServer.start(totalRows = 200L)
    try {
      val stream = spark.readStream.format("graft.sources.RestSource")
        .option("url", stub.url).option("pages", "10").option("pageSize", "20")
        .option("pagesPerTrigger", "3")
        .load()
      val q = stream.writeStream.format("memory").queryName("rest_stream_test")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val out = spark.table("rest_stream_test")
      assert(out.count() === 200, "all pages drained across micro-batches")
      assert(out.select(countDistinct(col("event_id"))).head.getLong(0) === 200,
        "no page read twice")
      // 10 pages at 3 per trigger → at least 4 data-bearing micro-batches
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 4, s"expected >=4 micro-batches, saw $dataBatches")
    } finally stub.stop()
  }

  test("one-shot trigger drains ALL pages (ReadAllAvailable overrides pagesPerTrigger)") {
    val stub = RestStubServer.start(totalRows = 200L)
    try {
      val stream = spark.readStream.format("graft.sources.RestSource")
        .option("url", stub.url).option("pages", "10").option("pageSize", "20")
        .option("pagesPerTrigger", "2")
        .load()
      val q = stream.writeStream.format("memory").queryName("rest_once_test")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .outputMode("append").start()
      assert(q.awaitTermination(60000), "one-shot query must terminate")
      assert(spark.table("rest_once_test").count() === 200,
        "single batch must cover every page, not stop at pagesPerTrigger")
    } finally stub.stop()
  }

  test("streaming REST source resumes from the checkpointed page offset") {
    import java.nio.file.Files
    val stub = RestStubServer.start(totalRows = 200L)
    val root = Scratch.fresh(spark, "graft_rest_ckpt")
    val ckpt = root.resolve("ckpt").toString
    val outDir = root.resolve("out").toString
    try {
      def drain(pages: Int): Unit = {
        val stream = spark.readStream.format("graft.sources.RestSource")
          .option("url", stub.url).option("pages", pages.toString)
          .option("pageSize", "20").option("pagesPerTrigger", "2")
          .load()
        val q = stream.writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      drain(5)  // first incarnation: pages 0-4 committed to the checkpoint
      assert(spark.read.parquet(outDir).count() === 100)
      drain(10) // restart: the API has grown; must read ONLY pages 5-9
      val out = spark.read.parquet(outDir)
      assert(out.count() === 200, "restart appends exactly the new pages")
      assert(out.select(countDistinct(col("event_id"))).head.getLong(0) === 200,
        "no page re-read across the restart")
    } finally stub.stop()
  }

  test("kill mid-stream, restart from checkpoint: exactly-once, no refetch") {
    import java.nio.file.Files
    val stub = RestStubServer.start(totalRows = 200L)
    val root = Scratch.fresh(spark, "graft_rest_kill")
    val ckpt = root.resolve("ckpt").toString
    val outDir = root.resolve("out").toString
    try {
      // pacing keeps each micro-batch ≥~200ms so the stop below reliably
      // lands mid-drain instead of racing a sub-50ms full drain
      def stream() = spark.readStream.format("graft.sources.RestSource")
        .option("url", stub.url).option("pages", "10")
        .option("pageSize", "20").option("pagesPerTrigger", "2")
        .option("requestsPerSecond", "5")
        .load()
      // incarnation 1: stop as soon as the FIRST batch commits — mid-drain,
      // with pages still unread and possibly a batch in flight
      val q1 = stream().writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (q1.recentProgress.count(_.numInputRows > 0) < 1 &&
               System.nanoTime() < deadline) Thread.sleep(50)
        assert(q1.recentProgress.exists(_.numInputRows > 0), "no batch committed in 30s")
      } finally q1.stop()
      val afterKill = spark.read.parquet(outDir).count()
      assert(afterKill < 200, s"stop should land mid-drain, saw $afterKill rows")
      // incarnation 2: resume from the checkpoint and drain the rest
      val q2 = stream().writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q2.processAllAvailable() finally q2.stop()
      val out = spark.read.parquet(outDir)
      // exactly-once across the kill: every record once — committed batches
      // are not refetched, the in-flight one is replayed from the WAL and
      // deduped by the file sink's metadata log
      assert(out.count() === 200)
      assert(out.select(countDistinct(col("event_id"))).head.getLong(0) === 200)
    } finally stub.stop()
  }

  test("unsupported schema type fails at plan time, not per-row in executors") {
    val stub = RestStubServer.start(totalRows = 20L)
    try {
      val e = intercept[IllegalArgumentException] {
        read(stub.url, "schema" -> "event_id BIGINT, payload BINARY")
      }
      assert(e.getMessage.contains("payload"))
    } finally stub.stop()
  }

  test("typed DDL beyond the JSON primitives decodes (FLOAT narrows DOUBLE)") {
    val stub = RestStubServer.start(totalRows = 20L)
    try {
      val df = read(stub.url, "schema" -> "event_id BIGINT, value FLOAT")
      val row = df.filter(col("event_id") === 7).head
      assert(row.getFloat(1) === RestStubServer.expectedValue(7).toFloat)
    } finally stub.stop()
  }

  test("schema inference survives a transient 429 (same retry loop as the scan)") {
    val stub = RestStubServer.start(totalRows = 40L)
    try {
      val df = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url + "?fail=429once")
        .option("pages", "2").option("pageSize", "20")
        .option("inferSchema", "true")
        .load()
      assert(df.schema.fieldNames.toSeq === Seq("event_id", "event_type", "value"))
      assert(df.count() === 40)
    } finally stub.stop()
  }

  test("auth token from env-named option is sent (401 without)") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      // requireAuth makes the stub demand a token we did NOT configure
      val df = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url + "?requireAuth=sekrit")
        .option("pages", "1").option("pageSize", "20").load()
      val e = intercept[Exception](df.count())
      assert(e.toString.contains("401") || e.getCause.toString.contains("401"))
    } finally stub.stop()
  }
}
