package graft.sources

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

/** In-JVM HTTP stub for the rest_source connector (FIXTURES.md
  * "Non-parquet fixtures"): serves deterministic JSON pages shaped like the
  * events table, with the reference spec's four failure classes on demand
  * (/root/reference/README.md:33 — invalid response, empty payload, rate
  * limit, connectivity):
  *
  *   GET /records?page=N&limit=M[&event_type=T]   → JSON array of records
  *   &paging=cursor  → cursor protocol: object body {"records": [...],
  *                     "nextCursor": "kS"} (absent on the last page);
  *                     &cursor=kS resumes at id S
  *   &paging=nexturl → same but the chain field is "next": a RELATIVE
  *                     next-page URL echoing non-credential params
  *   &shape=wrapped  → page-numbered responses wrapped in an object
  *                     ({"records": [...], "total": N})
  *   &requireHeader=name:v → 400 unless header `name` is exactly `v`
  *                     (a spec without `:` → 400 naming the spec)
  *   &shape=nested   → records with a nested object + array field
  *                     (schema-inference fixture)
  *   &fail=429once   → first hit of each page (or cursor) returns HTTP
  *                     429, retry wins — strikes mid-walk in cursor mode
  *   &fail=429retryafter → same, plus a `Retry-After: 1` header
  *   &fail=500once   → same with HTTP 500
  *   &fail=malformed → page 1 body is truncated JSON
  *   &fail=cursorcycle → cursor chain loops back to its first cursor
  *                     (A→B→A…) without ever repeating consecutively
  *   &fail=empty     → page 1 is []
  *   &requireAuth=T / &requireApiKeyHeader=T / &requireApiKeyQuery=T /
  *   &requireBasic=user:pass → 401 unless the matching scheme presents
  *                     exactly T (Bearer header / X-API-Key header /
  *                     api_key param / Basic base64)
  *
  * Record i of page p (id = p·limit + i): deterministic type/value mix —
  * the unit specs recompute the same closed form to assert counts.
  */
object RestStubServer {
  val types = Array("click", "view", "purchase", "signup", "error")

  def recordJson(id: Long): String = {
    val t = types(((id * 2654435761L) % 5).toInt)
    val v = ((id * 1315423911L) % 10000L) / 100.0
    s"""{"event_id": $id, "event_type": "$t", "value": $v}"""
  }

  def expectedType(id: Long): String = types(((id * 2654435761L) % 5).toInt)
  def expectedValue(id: Long): Double = ((id * 1315423911L) % 10000L) / 100.0

  /** nested record shape for schema-inference tests. */
  def nestedRecordJson(id: Long): String =
    s"""{"event_id": $id,
        |"meta": {"kind": "${expectedType(id)}", "score": ${expectedValue(id)}},
        |"tags": ["t0", "t${id % 3}"]}""".stripMargin.replaceAll("\n", " ")

  /** messy record shape: score is null on even ids (inference must still
    * type it DOUBLE from the odd ids) and value is the junk string "n/a"
    * on ids divisible by 5 (decoding must null it, not coerce to 0.0). */
  def messyRecordJson(id: Long): String = {
    val score = if (id % 2 == 0) "null" else expectedValue(id).toString
    val value = if (id % 5 == 0) "\"n/a\"" else expectedValue(id).toString
    s"""{"event_id": $id, "score": $score, "value": $value}"""
  }

  // OAuth2 stub credentials (client-credentials grant). The secret holds
  // a '!' so the client's form URL-encoding is exercised round-trip.
  val oauthClientId = "graft-client"
  val oauthClientSecret = "s3cr3t!x"

  final class Handle(val server: HttpServer, val port: Int,
      val tokenMints: java.util.concurrent.atomic.AtomicInteger) {
    def url: String = s"http://127.0.0.1:$port/records"
    def tokenUrl: String = s"http://127.0.0.1:$port/token"
    def stop(): Unit = server.stop(0)
  }

  /** total pages served; beyond that → []. `oauthTokenUses` caps how many
    * /records requests each minted token may authorize before the server
    * answers 401 (forces mid-scan reactive refresh); `oauthExpiresInSec`
    * is the advertised token lifetime (0 ⇒ every cached token is already
    * stale, forcing proactive refresh before each request). */
  def start(totalRows: Long = 1000L, oauthTokenUses: Int = Int.MaxValue,
      oauthExpiresInSec: Long = 3600L): Handle = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val failedOnce = new ConcurrentHashMap[String, java.lang.Boolean]()
    val tokenMints = new java.util.concurrent.atomic.AtomicInteger(0)
    // minted token → remaining authorized /records uses
    val tokenUses = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
    server.createContext("/token", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        def send(code: Int, body: String): Unit = {
          val bs = body.getBytes(StandardCharsets.UTF_8)
          x.sendResponseHeaders(code, bs.length)
          x.getResponseBody.write(bs); x.close()
        }
        val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val form = body.split("&").filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
        }.toMap
        if (x.getRequestMethod != "POST") send(405, """{"error": "POST only"}""")
        else if (!form.get("grant_type").contains("client_credentials"))
          send(400, """{"error": "unsupported_grant_type"}""")
        else if (!form.get("client_id").contains(oauthClientId) ||
            !form.get("client_secret").contains(oauthClientSecret))
          send(401, """{"error": "invalid_client"}""")
        else {
          val tok = s"tok-${tokenMints.incrementAndGet()}"
          tokenUses.put(tok, new java.util.concurrent.atomic.AtomicInteger(oauthTokenUses))
          send(200, s"""{"access_token": "$tok", "token_type": "Bearer", """ +
            s""""expires_in": $oauthExpiresInSec}""")
        }
      }
    })
    server.createContext("/records", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val q = Option(x.getRequestURI.getQuery).getOrElse("")
        val params = q.split("&").filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2); k -> v
        }.toMap
        val page = params.getOrElse("page", "0").toLong
        val limit = params.getOrElse("limit", "100").toLong
        val fail = params.getOrElse("fail", "")
        // chain protocols: &paging=cursor → object body {"records": [...],
        // "nextCursor": "k<start>"} (opaque token the stub mints, absent on
        // the last page); &paging=nexturl → {"records": [...], "next":
        // "/records?...&cursor=k<start>"} (a RELATIVE next link echoing the
        // request's non-credential params, HATEOAS-style)
        val paging = params.getOrElse("paging", "page")
        val cursorMode = paging == "cursor" || paging == "nexturl"
        val cursorStart = params.get("cursor").map(_.stripPrefix("k").toLong)
        val auth = Option(x.getRequestHeaders.getFirst("Authorization")).getOrElse("")
        val apiKeyHeader = Option(x.getRequestHeaders.getFirst("X-API-Key")).getOrElse("")
        def send(code: Int, body: String): Unit = {
          val bs = body.getBytes(StandardCharsets.UTF_8)
          x.sendResponseHeaders(code, bs.length)
          x.getResponseBody.write(bs); x.close()
        }
        def basicOk: Boolean = params.get("requireBasic").forall { cred =>
          auth == "Basic " + java.util.Base64.getEncoder.encodeToString(
            cred.getBytes(StandardCharsets.UTF_8))
        }
        // failure injection keys by cursor when present so fail modes can
        // strike MID-walk (every request of a chain, once each), not just
        // the first request
        val failKey = params.getOrElse("cursor", page.toString)
        // &requireOAuth=1: the bearer token must be one this server minted
        // via /token AND still have authorized uses left — an exhausted or
        // unknown token gets 401, forcing the client's refresh path
        def oauthRejected: Boolean = params.contains("requireOAuth") && {
          val tok = auth.stripPrefix("Bearer ")
          !auth.startsWith("Bearer ") || {
            val uses = tokenUses.get(tok)
            uses == null || uses.decrementAndGet() < 0
          }
        }
        if (oauthRejected) {
          send(401, """{"error": "invalid_token"}""")
        } else if (params.contains("requireAuth") && auth != s"Bearer ${params("requireAuth")}") {
          send(401, """{"error": "unauthorized"}""")
        } else if (params.contains("requireApiKeyHeader") &&
            apiKeyHeader != params("requireApiKeyHeader")) {
          send(401, """{"error": "bad api key header"}""")
        } else if (params.contains("requireApiKeyQuery") &&
            !params.get("api_key").contains(params("requireApiKeyQuery"))) {
          send(401, """{"error": "bad api key param"}""")
        } else if (params.get("requireHeader").exists(!_.contains(":"))) {
          send(400, s"""{"error": "malformed requireHeader '${params("requireHeader")}', want name:value"}""")
        } else if (params.get("requireHeader").exists { spec =>
            val Array(name, want) = spec.split(":", 2)
            Option(x.getRequestHeaders.getFirst(name)) != Some(want)
          }) {
          send(400, """{"error": "missing required header"}""")
        } else if (!basicOk) {
          send(401, """{"error": "bad basic credentials"}""")
        } else if (fail.startsWith("429burst") && {
            // &fail=429burstN → the FIRST hit of every Nth page of the
            // chain returns a retryable fault, alternating 429 (with
            // Retry-After: 0) and 500 per burst — the production-shaped
            // intermittent-throttle profile for LONG chains, where
            // per-page 429once would force one restart per page
            val n = math.max(1L, fail.stripPrefix("429burst").toLong)
            val ordinal =
              if (cursorMode) cursorStart.getOrElse(0L) / math.max(1L, limit)
              else page
            ordinal % n == 0 &&
              (failedOnce.putIfAbsent(s"$fail-$failKey", java.lang.Boolean.TRUE) eq null)
          }) {
          val n = math.max(1L, fail.stripPrefix("429burst").toLong)
          val ordinal =
            if (cursorMode) cursorStart.getOrElse(0L) / math.max(1L, limit)
            else page
          if ((ordinal / n) % 2 == 0) {
            x.getResponseHeaders.set("Retry-After", "0")
            send(429, """{"error": "throttled burst"}""")
          } else send(500, """{"error": "transient burst"}""")
        } else if ((fail == "429once" || fail == "429retryafter" ||
            fail == "429retrydate" || fail == "500once") &&
            (failedOnce.putIfAbsent(s"$fail-$failKey", java.lang.Boolean.TRUE) eq null)) {
          if (fail == "429retryafter") x.getResponseHeaders.set("Retry-After", "1")
          if (fail == "429retrydate") // RFC 7231 HTTP-date form. +2s, not
            // +1s: the date truncates to whole seconds, so a +1s date
            // minted at X.999 is ~1ms away — floor(now+2)−now ∈ (1s, 2s]
            // guarantees the client a measurable sleep
            x.getResponseHeaders.set("Retry-After",
              java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME.format(
                java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC).plusSeconds(2)))
          send(if (fail == "500once") 500 else 429, """{"error": "try later"}""")
        } else if (fail == "malformed" && page == 1) {
          send(200, """[{"event_id": 1, "event_ty""")
        } else if (fail == "empty" && page == 1) {
          send(200, "[]")
        } else {
          val start = if (cursorMode) cursorStart.getOrElse(0L) else page * limit
          val end = math.min(start + limit, totalRows)
          val typeFilter = params.get("event_type")
          val minId = params.get("min_id").map(_.toLong)
          val shape = params.getOrElse("shape", "flat")
          // filters apply to the record's actual fields (id/type), never
          // to its serialized text — a substring match over JSON would be
          // the kind of server-side inexactness the connector guards
          // against by re-evaluating filters in Spark
          val rows = (start until end)
            .filter(id => minId.forall(id > _))
            .filter(id => typeFilter.forall(_ == expectedType(id)))
            .map(id => shape match {
              case "nested" => nestedRecordJson(id)
              case "messy" => messyRecordJson(id)
              // drift: pages past the first grow an extra field the
              // sampler never saw (server-side schema evolution fixture)
              case "drift" if page > 0 =>
                recordJson(id).dropRight(1) + s""", "surprise": $id}"""
              case _ => recordJson(id)
            })
          val arr = rows.mkString("[", ", ", "]")
          if (paging == "nexturl") {
            // echo the request's paging params (never credentials) into a
            // relative next link, swapping in the new cursor
            val echoed = params.view
              .filterKeys(k => !Set("cursor", "api_key").contains(k))
              .map { case (k, v) => s"$k=$v" }.mkString("&")
            val next = if (end < totalRows)
              s""", "next": "/records?$echoed&cursor=k$end"""" else ""
            send(200, s"""{"records": $arr$next}""")
          } else if (paging == "cursor") {
            // &fail=cursorcycle: from the third request on, the chain
            // points BACK to the first minted cursor (A→B→A→B→…) — a
            // broken server whose loop a client must detect, since no
            // two CONSECUTIVE cursors ever repeat
            val nextTok =
              if (fail == "cursorcycle" && start >= 2 * limit) Some(s"k$limit")
              else if (end < totalRows) Some(s"k$end")
              else None
            val next = nextTok.map(t => s""", "nextCursor": "$t"""").getOrElse("")
            send(200, s"""{"records": $arr$next}""")
          } else if (params.get("shape").contains("wrapped")) {
            // page-numbered but object-wrapped: {"records": [...], "total": N}
            send(200, s"""{"records": $arr, "total": $totalRows}""")
          } else send(200, arr)
        }
      }
    })
    server.start()
    new Handle(server, server.getAddress.getPort, tokenMints)
  }
}
