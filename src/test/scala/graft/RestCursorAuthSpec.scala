package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Round-4 REST surface: cursor/next-URL pagination, the auth scheme
  * matrix (bearer / api-key header / api-key query / basic), and `.env`
  * credential files (/root/reference/README.md:12-13,:17-18,91-93).
  * All secrets flow by env NAME through [[Secrets]]; the stub asserts the
  * exact header/param each scheme must present. */
class RestCursorAuthSpec extends graft.SparkSuite {

  private def envFile(lines: String*): String = {
    val f = Files.createTempFile(graft.Scratch.root(spark), "graft_env", ".env")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  private def cursorRead(url: String, extra: (String, String)*) = {
    val base = spark.read.format("graft.sources.RestSource")
      .option("url", url).option("paginationMode", "cursor")
      .option("pageSize", "20")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  test("cursor pagination walks the next-cursor chain to completion") {
    val stub = RestStubServer.start(totalRows = 200L)
    try {
      val df = cursorRead(stub.url + "?paging=cursor")
      assert(df.count() === 200)
      assert(df.agg(countDistinct(col("event_id"))).head.getLong(0) === 200,
        "every record exactly once across the chain")
      // chain termination: a second pass gives the same answer (no state)
      assert(df.count() === 200)
    } finally stub.stop()
  }

  test("cursor sampling: inferSchema reads the first cursor page's dataField") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      val df = cursorRead(stub.url + "?paging=cursor", "inferSchema" -> "true")
      assert(df.schema.fieldNames.toSeq === Seq("event_id", "event_type", "value"))
      assert(df.count() === 100)
    } finally stub.stop()
  }

  test("429 mid-walk retries from the SAME cursor: no loss, no refetch") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      // failMode keys by cursor in the stub → EVERY request of the chain
      // fails once and must be retried in place
      val df = cursorRead(stub.url + "?paging=cursor", "failMode" -> "429once")
      assert(df.count() === 100)
      assert(df.agg(countDistinct(col("event_id"))).head.getLong(0) === 100)
    } finally stub.stop()
  }

  test("cursor runaway guard: maxRequests caps the walk loudly") {
    val stub = RestStubServer.start(totalRows = 200L)
    try {
      val e = intercept[Exception] {
        cursorRead(stub.url + "?paging=cursor", "maxRequests" -> "3").count()
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(t => t.getMessage != null && t.getMessage.contains("maxRequests")))
    } finally stub.stop()
  }

  test("cursor cycle (A→B→A) fails on the revisit, not at maxRequests") {
    val stub = RestStubServer.start(totalRows = 200L)
    try {
      val e = intercept[Exception] {
        // the cycle never repeats a cursor CONSECUTIVELY, so only the
        // seen-set guard can catch it; without it this would issue
        // maxRequests HTTP calls before dying
        cursorRead(stub.url + "?paging=cursor&fail=cursorcycle").count()
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(t =>
        t.getMessage != null && t.getMessage.contains("revisited")), e.toString)
    } finally stub.stop()
  }

  test("cursor mode refuses streaming (offsets must be page-addressable)") {
    val stub = RestStubServer.start(totalRows = 40L)
    try {
      val stream = spark.readStream.format("graft.sources.RestSource")
        .option("url", stub.url + "?paging=cursor")
        .option("paginationMode", "cursor").option("pageSize", "20")
        .load()
      val q = stream.writeStream.format("memory")
        .queryName("rest_cursor_stream").outputMode("append").start()
      val e = intercept[Exception] {
        try q.processAllAvailable() finally q.stop()
      }
      assert(e.toString.contains("cursor") ||
        Option(e.getCause).exists(_.toString.contains("cursor")), e.toString)
    } finally stub.stop()
  }

  test("nextUrl pagination follows relative next links to completion") {
    val stub = RestStubServer.start(totalRows = 200L)
    try {
      val df = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url + "?paging=nexturl")
        .option("paginationMode", "nextUrl")
        .option("pageSize", "20")
        .load()
      assert(df.count() === 200)
      assert(df.agg(countDistinct(col("event_id"))).head.getLong(0) === 200)
    } finally stub.stop()
  }

  test("nextUrl walk retries a 429 mid-chain without losing the position") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      val df = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url + "?paging=nexturl")
        .option("paginationMode", "nextUrl")
        .option("pageSize", "20")
        .option("failMode", "429once")
        .load()
      assert(df.count() === 100)
      assert(df.agg(countDistinct(col("event_id"))).head.getLong(0) === 100)
    } finally stub.stop()
  }

  test("page mode decodes object-wrapped responses via dataField") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      val df = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url + "?shape=wrapped")
        .option("pages", "5").option("pageSize", "20")
        .load()
      assert(df.count() === 100)
      assert(df.agg(countDistinct(col("event_id"))).head.getLong(0) === 100)
    } finally stub.stop()
  }

  test("static header.<name> options reach every request") {
    val stub = RestStubServer.start(totalRows = 60L)
    try {
      def reader(withHeader: Boolean) = {
        val base = spark.read.format("graft.sources.RestSource")
          .option("url", stub.url + "?requireHeader=x-trace:abc123")
          .option("pages", "3").option("pageSize", "20")
        (if (withHeader) base.option("header.x-trace", "abc123") else base).load()
      }
      assert(reader(withHeader = true).count() === 60)
      val e = intercept[Exception](reader(withHeader = false).count())
      assert(e.toString.contains("400") ||
        Option(e.getCause).exists(_.toString.contains("400")))
    } finally stub.stop()
  }

  test("a requireHeader spec without ':' is answered 400 naming the spec") {
    val stub = RestStubServer.start(totalRows = 20L)
    try {
      val conn = new java.net.URI(stub.url + "?requireHeader=x-trace").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      try {
        assert(conn.getResponseCode === 400)
        val body = new String(conn.getErrorStream.readAllBytes(), "UTF-8")
        assert(body.contains("malformed requireHeader 'x-trace'"), body)
      } finally conn.disconnect()
    } finally stub.stop()
  }

  test("schema sampling sends static headers too (inferSchema + requireHeader)") {
    val stub = RestStubServer.start(totalRows = 60L)
    try {
      // inference issues its own driver-side request — a header the API
      // REQUIRES must reach that request as well, or inferSchema=true
      // fails on an endpoint the partition readers could read fine
      val df = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url + "?requireHeader=x-trace:abc123")
        .option("header.x-trace", "abc123")
        .option("inferSchema", "true")
        .option("pages", "3").option("pageSize", "20")
        .load()
      assert(df.schema.fieldNames.toSeq === Seq("event_id", "event_type", "value"))
      assert(df.count() === 60)
      val e = intercept[Exception] {
        spark.read.format("graft.sources.RestSource")
          .option("url", stub.url + "?requireHeader=x-trace:abc123")
          .option("inferSchema", "true")
          .option("pages", "3").option("pageSize", "20")
          .load()
      }
      assert(e.toString.contains("400") ||
        Option(e.getCause).exists(_.toString.contains("400")), e.toString)
    } finally stub.stop()
  }

  test("unknown paginationMode fails at plan time with the supported list") {
    val stub = RestStubServer.start(totalRows = 20L)
    try {
      val e = intercept[IllegalArgumentException] {
        spark.read.format("graft.sources.RestSource")
          .option("url", stub.url).option("pageSize", "20")
          .option("paginationMode", "scroll").load().count()
      }
      assert(e.getMessage.contains("nextUrl"))
    } finally stub.stop()
  }

  test("bearer positive path: token resolved from .env, sent as Bearer") {
    val stub = RestStubServer.start(totalRows = 60L)
    try {
      val env = envFile("GRAFT_TEST_TOKEN=sekrit")
      val df = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url + "?requireAuth=sekrit")
        .option("pages", "3").option("pageSize", "20")
        .option("authTokenEnv", "GRAFT_TEST_TOKEN")
        .option("envFile", env).load()
      assert(df.count() === 60)
    } finally stub.stop()
  }

  test("apiKeyHeader scheme sends the key in X-API-Key (401 without)") {
    val stub = RestStubServer.start(totalRows = 60L)
    try {
      val env = envFile("GRAFT_TEST_KEY=sekrit")
      def reader(withEnv: Boolean) = {
        val base = spark.read.format("graft.sources.RestSource")
          .option("url", stub.url + "?requireApiKeyHeader=sekrit")
          .option("pages", "3").option("pageSize", "20")
          .option("authScheme", "apiKeyHeader")
          .option("authTokenEnv", "GRAFT_TEST_KEY")
        (if (withEnv) base.option("envFile", env) else base).load()
      }
      assert(reader(withEnv = true).count() === 60)
      val e = intercept[Exception](reader(withEnv = false).count())
      assert(e.toString.contains("401") ||
        Option(e.getCause).exists(_.toString.contains("401")))
    } finally stub.stop()
  }

  test("apiKeyQuery scheme appends the key per request, never into plan strings") {
    val stub = RestStubServer.start(totalRows = 60L)
    try {
      val env = envFile("GRAFT_TEST_KEY=qsekrit")
      val df = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url + "?requireApiKeyQuery=qsekrit")
        .option("pages", "3").option("pageSize", "20")
        .option("authScheme", "apiKeyQuery")
        .option("authTokenEnv", "GRAFT_TEST_KEY")
        .option("envFile", env).load()
      assert(df.count() === 60)
      // the key is attached at request time only — the scan description
      // (which embeds the url option) must not carry the api_key param
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("api_key=qsekrit"), plan)
    } finally stub.stop()
  }

  test("basic scheme sends base64(user:password) from env-named credentials") {
    val stub = RestStubServer.start(totalRows = 60L)
    try {
      val env = envFile("GRAFT_TEST_USER=alice", "GRAFT_TEST_PASS=s3cr3t")
      val df = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url + "?requireBasic=alice:s3cr3t")
        .option("pages", "3").option("pageSize", "20")
        .option("authScheme", "basic")
        .option("authUserEnv", "GRAFT_TEST_USER")
        .option("authTokenEnv", "GRAFT_TEST_PASS")
        .option("envFile", env).load()
      assert(df.count() === 60)
    } finally stub.stop()
  }

  test("unknown authScheme fails at plan time with the supported list") {
    val stub = RestStubServer.start(totalRows = 20L)
    try {
      val e = intercept[IllegalArgumentException] {
        spark.read.format("graft.sources.RestSource")
          .option("url", stub.url).option("pages", "1").option("pageSize", "20")
          .option("authScheme", "oauth-dance").load().count()
      }
      assert(e.getMessage.contains("bearer"))
    } finally stub.stop()
  }

  test("DotEnv parses comments, export, quotes, inline comments; real env wins") {
    val f = envFile(
      "# a comment line",
      "",
      "export A=1",
      "B=\"two words\"",
      "C='single quoted'",
      "D=raw # trailing comment",
      "E=\"kept # inside quotes\"",
      "PATH=bogus-overridden-by-real-env")
    val m = DotEnv.parse(f)
    assert(m("A") === "1")
    assert(m("B") === "two words")
    assert(m("C") === "single quoted")
    assert(m("D") === "raw")
    assert(m("E") === "kept # inside quotes")
    val sec = Secrets(Some(f))
    // 12-factor: the real process environment shadows the file
    assert(sec.resolve("PATH") === sys.env.get("PATH"))
    assert(sec.resolve("A") === Some("1"))
    assert(sec.resolve("MISSING_EVERYWHERE") === None)
    // no secret value may leak through toString
    assert(!sec.toString.contains("bogus"))
  }

  test("server-side schema drift after sampling: new fields ignored, no error") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      // inferSchema samples page 0; pages 1+ grow a 'surprise' field the
      // plan-time schema never saw — decoding must ignore it (schema is
      // fixed at plan time, the DSv2 contract), not fail or reorder
      val df = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url + "?shape=drift")
        .option("pages", "5").option("pageSize", "20")
        .option("inferSchema", "true")
        .load()
      assert(df.schema.fieldNames.toSeq === Seq("event_id", "event_type", "value"))
      assert(df.count() === 100)
      assert(df.agg(countDistinct(col("event_id"))).head.getLong(0) === 100)
    } finally stub.stop()
  }

  test("DotEnv failure paths: unreadable file errors clearly; junk lines skipped") {
    val e = intercept[IllegalArgumentException](DotEnv.parse("/nonexistent/.env"))
    assert(e.getMessage.contains("not readable"))
    val f = envFile("no_equals_sign_line", "=nokey", "GOOD=1")
    val m = DotEnv.parse(f)
    assert(m === Map("GOOD" -> "1"), s"junk lines must be skipped, got $m")
  }

  test("nested column pruning reaches the scan's read schema") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      val df = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url + "?shape=nested")
        .option("pages", "5").option("pageSize", "20")
        .option("schema",
          "event_id BIGINT, meta STRUCT<kind: STRING, score: DOUBLE>, tags ARRAY<STRING>")
        .load()
        .select(col("meta.kind").as("kind"))
      assert(df.count() === 100)
      val scanSchema = df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.readSchema()
      }.getOrElse(fail("no BatchScanExec in plan"))
      import org.apache.spark.sql.types.StructType
      val meta = scanSchema("meta").dataType.asInstanceOf[StructType]
      assert(meta.fieldNames.toSeq === Seq("kind"),
        s"struct should be pruned to the referenced subfield, got $scanSchema")
      assert(!scanSchema.fieldNames.contains("tags"))
    } finally stub.stop()
  }

  // ---- OAuth2 client-credentials (README.md:12 "tokens", expiring shape)

  private def oauthEnv: String = envFile(
    s"GRAFT_OAUTH_ID=${RestStubServer.oauthClientId}",
    s"GRAFT_OAUTH_SECRET=${RestStubServer.oauthClientSecret}")

  private def oauthRead(stub: RestStubServer.Handle, extra: (String, String)*) = {
    val base = spark.read.format("graft.sources.RestSource")
      .option("url", stub.url + "?paging=cursor&requireOAuth=1")
      .option("paginationMode", "cursor").option("pageSize", "20")
      .option("authScheme", "oauth2")
      .option("oauthTokenUrl", stub.tokenUrl)
      .option("oauthClientIdEnv", "GRAFT_OAUTH_ID")
      .option("oauthClientSecretEnv", "GRAFT_OAUTH_SECRET")
      .option("envFile", oauthEnv)
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  test("oauth2: mints a client-credentials token and reads the whole walk") {
    val stub = RestStubServer.start(totalRows = 100L)
    try {
      val df = oauthRead(stub)
      assert(df.count() === 100)
      assert(df.agg(countDistinct(col("event_id"))).head.getLong(0) === 100)
      assert(stub.tokenMints.get() >= 1)
      // the scan description must never carry a minted token or secret
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("tok-") && !plan.contains(RestStubServer.oauthClientSecret), plan)
    } finally stub.stop()
  }

  test("oauth2: server-side token exhaustion mid-scan → 401 → refresh → walk completes") {
    // each minted token authorizes only 3 requests; the 200-row / 20-page
    // cursor walk needs ~10, so the reader MUST refresh at least twice
    // mid-scan (reactive path: 401 → invalidate → re-mint → retry in place)
    val stub = RestStubServer.start(totalRows = 200L, oauthTokenUses = 3)
    try {
      val df = oauthRead(stub)
      assert(df.count() === 200)
      assert(df.agg(countDistinct(col("event_id"))).head.getLong(0) === 200,
        "refresh must resume from the same cursor: no loss, no duplicates")
      assert(stub.tokenMints.get() >= 3, s"expected ≥3 mints, got ${stub.tokenMints.get()}")
    } finally stub.stop()
  }

  test("oauth2: expired cached token refreshes proactively, before the 401") {
    // expires_in=0 ⇒ every cached token is already inside the refresh
    // skew; tokens have unlimited uses, so ONLY the proactive path can
    // explain multiple mints
    val stub = RestStubServer.start(totalRows = 100L, oauthExpiresInSec = 0L)
    try {
      val df = oauthRead(stub)
      assert(df.count() === 100)
      assert(stub.tokenMints.get() >= 5, s"got ${stub.tokenMints.get()}")
    } finally stub.stop()
  }

  test("oauth2: bad client credentials fail loudly at the token endpoint") {
    val stub = RestStubServer.start(totalRows = 20L)
    try {
      val env = envFile(
        s"GRAFT_OAUTH_ID=${RestStubServer.oauthClientId}",
        "GRAFT_OAUTH_SECRET=wrong")
      val e = intercept[Exception](oauthRead(stub, "envFile" -> env).count())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.toString).mkString("\n")
      assert(msgs.contains("oauth2 token endpoint HTTP 401"), msgs)
    } finally stub.stop()
  }

  test("oauth2 x streaming: tokens exhausting mid-stream refresh without offset loss") {
    // the one auth x streaming corner the batch specs don't cover: the
    // CONTINUOUS ingestion loop (stream_rest_ingest's shape) with tokens
    // that die every 3 requests — refreshes land across micro-batch
    // boundaries and must not lose or refetch an offset page
    val stub = RestStubServer.start(totalRows = 200L, oauthTokenUses = 3)
    try {
      val stream = spark.readStream.format("graft.sources.RestSource")
        .option("url", stub.url + "?requireOAuth=1")
        .option("pages", "10").option("pageSize", "20")
        .option("pagesPerTrigger", "2")
        .option("authScheme", "oauth2")
        .option("oauthTokenUrl", stub.tokenUrl)
        .option("oauthClientIdEnv", "GRAFT_OAUTH_ID")
        .option("oauthClientSecretEnv", "GRAFT_OAUTH_SECRET")
        .option("envFile", oauthEnv)
        .load()
      val q = stream.writeStream.format("memory").queryName("mem_rest_oauth")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val out = spark.table("mem_rest_oauth")
      assert(out.count() === 200, "every page must arrive exactly once")
      assert(out.agg(countDistinct(col("event_id"))).head.getLong(0) === 200,
        "refresh across micro-batches must not lose or duplicate offsets")
      assert(stub.tokenMints.get() >= 3,
        s"expected >=3 mints from mid-stream exhaustion, got ${stub.tokenMints.get()}")
    } finally stub.stop()
  }

  test("oauth2: missing oauthTokenUrl fails at plan time naming the option") {
    val stub = RestStubServer.start(totalRows = 20L)
    try {
      val e = intercept[IllegalArgumentException] {
        spark.read.format("graft.sources.RestSource")
          .option("url", stub.url).option("pageSize", "20")
          .option("authScheme", "oauth2")
          .option("oauthClientIdEnv", "GRAFT_OAUTH_ID")
          .option("oauthClientSecretEnv", "GRAFT_OAUTH_SECRET")
          .load().count()
      }
      assert(e.getMessage.contains("oauthTokenUrl"))
    } finally stub.stop()
  }
}
