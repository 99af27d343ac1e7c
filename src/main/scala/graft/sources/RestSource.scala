package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** §2.A `rest_source`: a paginated, token-authed, rate-limit-tolerant REST
  * API exposed as a Spark DataSource V2 table — the reference's extract
  * stage (/root/reference/README.md:12-13,:17-18,:33) re-expressed as a
  * first-class Spark source.
  *
  * Scale design: one InputPartition per page range → page fetches fan out
  * across executors; `SupportsPushDownRequiredColumns` prunes the parsed
  * JSON to the needed fields; `SupportsPushDownFilters` forwards
  * `event_type = 'x'` / `event_id > n` as API query parameters
  * (README.md:13's query params) but RETURNS every filter to Spark — the
  * params are best-effort hints and Spark re-evaluates post-scan, so a
  * server that applies them loosely (or not at all) can only cost I/O,
  * never correctness. Retry with exponential backoff on 429/5xx honoring
  * `Retry-After`, plus optional proactive pacing via `requestsPerSecond`
  * (token-bucket per partition reader; the effective global rate is
  * rps × concurrent partitions, so size it for your parallelism).
  * Credentials come from an env var named in options (never inline —
  * README.md:17-18).
  *
  * Schema resolution (README.md:13 "document its response structure" — the
  * endpoint's JSON is arbitrary, possibly nested):
  *   1. `schema` option (DDL string, e.g. "id BIGINT, meta STRUCT<k: STRING>"),
  *      or an explicit `.schema(...)` on the reader;
  *   2. `inferSchema=true` → sample the first page and infer field types
  *      recursively (objects → STRUCT, arrays → ARRAY, integral → BIGINT,
  *      numeric → DOUBLE, bool, else STRING);
  *   3. neither → the events-shaped default (back-compat with the stub).
  *
  * Pagination (README.md:13): `paginationMode=page` (default) fans page
  * ranges out across executors (responses may be bare arrays or
  * object-wrapped under `dataField`); `paginationMode=cursor` follows an
  * opaque `nextCursor` chain sequentially; `paginationMode=nextUrl`
  * follows a next-link field holding a (possibly relative) URL
  * (`dataField`/`cursorField`/`cursorParam` options name the response
  * fields; the chain modes are batch only — see toMicroBatchStream for
  * why a chain position can't be a streaming offset). Non-secret static
  * request headers ride along as `header.<name>` options.
  *
  * Auth (README.md:12,:17-18): `authScheme` = bearer | apiKeyHeader |
  * apiKeyQuery | basic — see [[RestAuth]]; credentials always by env-var
  * name (`authTokenEnv`/`authUserEnv`), optionally backed by a dotenv
  * file (`envFile` → [[DotEnv]]), never by value.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.rest")
  *     .option("url", "http://host/records")
  *     .option("pages", "20").option("pageSize", "50")
  *     .option("inferSchema", "true")             // or .option("schema", ddl)
  *     .option("authScheme", "bearer")            // | apiKeyHeader | apiKeyQuery | basic
  *     .option("authTokenEnv", "API_TOKEN")       // env NAME, never a value
  *     .option("envFile", "/etc/secrets/.env")    // optional dotenv fallback
  *     .option("paginationMode", "cursor")        // opaque next-cursor walk
  *     .option("requestsPerSecond", "10")         // optional pacing
  *     .load()
  * }}}
  */
class RestSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Option(options.get("schema")).map(StructType.fromDDL).getOrElse {
      if (options.getBoolean("inferSchema", false)) RestSource.sampleSchema(options)
      else RestSource.defaultSchema
    }
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    RestSource.validateSchema(schema) // covers user DDL and .schema(...) too
    new RestTable(schema, new CaseInsensitiveStringMap(properties))
  }
}

object RestSource {
  /** Back-compat default for endpoints shaped like the events table. */
  val defaultSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private[sources] val mapper = new ObjectMapper()

  /** Non-secret static request headers: `header.<name>=<value>` options.
    * Shared by schema sampling and the partition readers so both paths
    * send the same request shape. */
  private[sources] def staticHeaders(options: CaseInsensitiveStringMap): Map[String, String] =
    options.entrySet().asScala
      .filter(_.getKey.startsWith("header."))
      .map(e => e.getKey.stripPrefix("header.") -> e.getValue).toMap

  /** First-page sampling inference: fetch page 0 once and merge the field
    * types observed across its records. Driver-side, one request — but the
    * same bounded-retry loop as the scan path (RestHttp.fetchNode): a
    * transient 429/5xx during inference must not fail a query the readers
    * would have survived. */
  def sampleSchema(options: CaseInsensitiveStringMap): StructType = {
    val url = options.get("url")
    val limit = options.getInt("sampleSize", options.getInt("pageSize", 100))
    val sep = if (url.contains("?")) "&" else "?"
    val auth = RestAuth.fromOptions(options)
    // the same static header.<name> options the partition readers send —
    // an API that *requires* a header must see it during inference too
    val headers = staticHeaders(options)
    val chainMode = Option(options.get("paginationMode")).exists(_ != "page")
    // a chain walk starts cursor-less, so its sample is just limit=N
    val params = (if (chainMode) Nil else Seq("page=0")) ++
      Seq(s"limit=$limit") ++ auth.queryParams
    val target = new java.net.URI(url + sep + params.mkString("&")).toURL
    val node = RestHttp.fetchNode(target, auth, options.getInt("maxRetries", 4),
      headers = headers)
    val elems = RestHttp.records(node,
      Option(options.get("dataField")).getOrElse("records"), s"response from $url").toVector
    if (elems.isEmpty)
      throw new java.io.IOException(
        s"rest_source: schema sampling needs a non-empty JSON array page from $url")
    resolveNulls(elems.map(inferType).reduce(mergeType)) match {
      case st: StructType => st
      case other => throw new java.io.IOException(
        s"rest_source: records must be JSON objects, inferred $other")
    }
  }

  /** Plan-time guard: every type the schema mentions must have a decoder
    * in [[toCatalyst]]. A DDL like "price FLOAT, seen DATE" used to pass
    * planning and then throw per-row inside executors — fail fast on the
    * driver with the offending field paths instead. */
  private[sources] def validateSchema(schema: StructType): Unit = {
    def walk(path: String, dt: DataType): Seq[String] = dt match {
      case LongType | IntegerType | ShortType | ByteType | DoubleType | FloatType |
           BooleanType | StringType | DateType | TimestampType => Nil
      case _: DecimalType => Nil
      case st: StructType => st.fields.toSeq.flatMap(f => walk(s"$path.${f.name}", f.dataType))
      case ArrayType(et, _) => walk(s"$path[]", et)
      case other => Seq(s"$path: $other")
    }
    val bad = schema.fields.toSeq.flatMap(f => walk(f.name, f.dataType))
    require(bad.isEmpty,
      s"rest_source: unsupported column type(s) ${bad.mkString("; ")} — supported: " +
        "BIGINT, INT, SMALLINT, TINYINT, DOUBLE, FLOAT, DECIMAL(p,s), BOOLEAN, " +
        "STRING, DATE, TIMESTAMP, STRUCT, ARRAY")
  }

  // NullType is the inference bottom: a null observation defers to any
  // typed observation of the same field (as Spark's own JSON inference
  // does); fields null across the whole sample resolve to string.
  private[sources] def inferType(n: JsonNode): DataType =
    if (n == null || n.isNull) NullType
    else if (n.isBoolean) BooleanType
    else if (n.isIntegralNumber) LongType
    else if (n.isNumber) DoubleType
    else if (n.isObject) StructType(
      n.properties().asScala.toSeq.map(e => StructField(e.getKey, inferType(e.getValue))))
    else if (n.isArray) {
      val elems = n.elements().asScala.toSeq
      ArrayType(if (elems.isEmpty) NullType else elems.map(inferType).reduce(mergeType))
    } else StringType

  private[sources] def mergeType(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (NullType, x) => x
    case (x, NullType) => x
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case (x: StructType, y: StructType) =>
      val byName = y.fields.map(f => f.name -> f.dataType).toMap
      val merged = x.fields.map(f =>
        StructField(f.name, byName.get(f.name).map(mergeType(f.dataType, _)).getOrElse(f.dataType)))
      val extra = y.fields.filterNot(f => x.fieldNames.contains(f.name))
      StructType(merged ++ extra)
    case (ArrayType(x, _), ArrayType(y, _)) => ArrayType(mergeType(x, y))
    case _ => StringType // incompatible observations degrade to string
  }

  /** Replace any residual NullType (field null in every sampled record)
    * with StringType so the final schema is always materializable. */
  private[sources] def resolveNulls(dt: DataType): DataType = dt match {
    case NullType => StringType
    case st: StructType =>
      StructType(st.fields.map(f => f.copy(dataType = resolveNulls(f.dataType))))
    case ArrayType(et, n) => ArrayType(resolveNulls(et), n)
    case other => other
  }

  /** JSON node → Catalyst value for the requested type (recursive:
    * nested structs and arrays included). Missing/null fields → null, and
    * type-mismatched values (e.g. "n/a" under a DOUBLE field) → null
    * rather than Jackson's lenient 0/0.0/false coercion, so bad data is
    * visible instead of silently skewing aggregates. */
  private[sources] def toCatalyst(n: JsonNode, dt: DataType): Any =
    if (n == null || n.isNull) null
    else dt match {
      case LongType => if (n.isNumber) java.lang.Long.valueOf(n.asLong()) else null
      case IntegerType => if (n.isNumber) java.lang.Integer.valueOf(n.asInt()) else null
      case ShortType => if (n.isNumber) java.lang.Short.valueOf(n.asInt().toShort) else null
      case ByteType => if (n.isNumber) java.lang.Byte.valueOf(n.asInt().toByte) else null
      case DoubleType => if (n.isNumber) java.lang.Double.valueOf(n.asDouble()) else null
      case FloatType => if (n.isNumber) java.lang.Float.valueOf(n.asDouble().toFloat) else null
      case d: DecimalType =>
        if (!n.isNumber) null
        else {
          val dec = org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(n.asText()))
          if (dec.changePrecision(d.precision, d.scale)) dec else null // overflow → null, like mismatches
        }
      case BooleanType => if (n.isBoolean) java.lang.Boolean.valueOf(n.asBoolean()) else null
      case StringType => UTF8String.fromString(if (n.isTextual) n.asText() else n.toString)
      case DateType => // ISO-8601 calendar date → days since epoch
        if (!n.isTextual) null
        else try Integer.valueOf(java.time.LocalDate.parse(n.asText()).toEpochDay.toInt)
        catch { case _: java.time.format.DateTimeParseException => null }
      case TimestampType => // ISO-8601 instant (text) or epoch millis (integral) → micros
        if (n.isIntegralNumber) java.lang.Long.valueOf(Math.multiplyExact(n.asLong(), 1000L))
        else if (!n.isTextual) null
        else try {
          val t = n.asText()
          val instant =
            if (t.endsWith("Z") || t.contains("+")) java.time.Instant.parse(t)
            else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
              .toInstant(java.time.ZoneOffset.UTC)
          java.lang.Long.valueOf(Math.addExact(
            Math.multiplyExact(instant.getEpochSecond, 1000000L), instant.getNano / 1000L))
        } catch { case _: java.time.format.DateTimeParseException => null }
      case st: StructType =>
        InternalRow.fromSeq(st.fields.toSeq.map(f => toCatalyst(n.get(f.name), f.dataType)))
      case ArrayType(et, _) =>
        new GenericArrayData(n.elements().asScala.map(toCatalyst(_, et)).toArray)
      case other => // unreachable behind validateSchema; kept as defense in depth
        throw new UnsupportedOperationException(s"rest_source: unsupported type $other")
    }
}

/** OAuth2 client-credentials grant (RFC 6749 §4.4) with token caching and
  * refresh — the expiring-token auth shape of most real APIs
  * (/root/reference/README.md:12 "authentication (API keys, tokens)").
  * Mints by POSTing `grant_type=client_credentials` (+optional scope) to
  * `tokenUrl` with the client id/secret resolved by env NAME via
  * [[Secrets]]; caches `access_token` until `expires_in` minus a refresh
  * skew, re-mints PROACTIVELY on expiry and REACTIVELY when the API
  * answers 401 (revoked / server-side-shortened tokens — see
  * [[RestHttp.fetchNode]]). The cache is @transient per JVM instance:
  * each executor mints its own token at request time, so neither the
  * credentials nor a live token ever rides an option, a serialized plan,
  * or a log line. */
private[sources] case class OAuth2Client(tokenUrl: String, clientIdEnv: String,
    clientSecretEnv: String, scope: Option[String], secrets: Secrets) {

  // minted-token cache; null/0 = absent (also the post-deserialize state)
  @transient private var cachedTok: String = _
  @transient private var cachedExpMs: Long = 0L
  private val refreshSkewMs = 5000L

  /** Current bearer token, minting/refreshing if absent or near expiry. */
  def token(): String = synchronized {
    if (cachedTok == null || System.currentTimeMillis() >= cachedExpMs - refreshSkewMs) {
      val (t, exp) = mint()
      cachedTok = t; cachedExpMs = exp
    }
    cachedTok
  }

  /** Drop the cached token (after a 401) so the next attempt re-mints. */
  def invalidate(): Unit = synchronized { cachedTok = null; cachedExpMs = 0L }

  private def enc(v: String): String =
    java.net.URLEncoder.encode(v, java.nio.charset.StandardCharsets.UTF_8)

  private def mint(): (String, Long) = {
    val id = secrets.resolve(clientIdEnv).getOrElse(throw new java.io.IOException(
      s"rest_source: oauth2 client id env '$clientIdEnv' unset"))
    val sec = secrets.resolve(clientSecretEnv).getOrElse(throw new java.io.IOException(
      s"rest_source: oauth2 client secret env '$clientSecretEnv' unset"))
    val form = s"grant_type=client_credentials&client_id=${enc(id)}&client_secret=${enc(sec)}" +
      scope.map(sc => s"&scope=${enc(sc)}").getOrElse("")
    var attempt = 0
    while (true) {
      val conn = java.net.URI.create(tokenUrl).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(5000); conn.setReadTimeout(15000)
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-www-form-urlencoded")
      try {
        conn.getOutputStream.write(form.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val code = conn.getResponseCode
        if (code == 200) {
          val node = RestSource.mapper.readTree(new String(
            conn.getInputStream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
          val tok = Option(node.get("access_token")).map(_.asText).filter(_.nonEmpty)
            .getOrElse(throw new java.io.IOException(
              "rest_source: oauth2 token response missing access_token"))
          val ttlSec = Option(node.get("expires_in")).map(_.asLong).getOrElse(3600L)
          return (tok, System.currentTimeMillis() + ttlSec * 1000L)
        } else if ((code == 429 || code >= 500) && attempt < 3) {
          attempt += 1
          Thread.sleep(50L << attempt) // same transient classes as fetchNode
        } else {
          throw new java.io.IOException(
            s"rest_source: oauth2 token endpoint HTTP $code from $tokenUrl")
        }
      } finally conn.disconnect()
    }
    throw new IllegalStateException("unreachable")
  }

  override def toString: String = s"OAuth2Client($tokenUrl)" // never credentials
}

/** Authentication for the REST connector — the spec's token/header surface
  * (/root/reference/README.md:12,:17-18) as a scheme matrix. Every scheme
  * resolves credentials by env-var NAME (optionally backed by an `.env`
  * file via [[Secrets]]); a secret VALUE never sits in an option, a plan
  * string, or a log line — headers/params are built at request time.
  *
  *   authScheme=bearer      (default)  Authorization: Bearer <token>
  *   authScheme=apiKeyHeader           <authHeaderName>: <token>   (default X-API-Key)
  *   authScheme=apiKeyQuery            &<authQueryParam>=<token>   (default api_key)
  *   authScheme=basic                  Authorization: Basic base64(<user>:<token>)
  *   authScheme=oauth2                 Authorization: Bearer <minted access_token>
  *                                     (client-credentials grant, cached +
  *                                     auto-refreshed — see [[OAuth2Client]];
  *                                     options oauthTokenUrl,
  *                                     oauthClientIdEnv, oauthClientSecretEnv,
  *                                     optional oauthScope)
  *
  * Token from `authTokenEnv`, Basic's user from `authUserEnv`. */
private[sources] case class RestAuth(scheme: String, tokenEnv: Option[String],
    userEnv: Option[String], headerName: String, queryParam: String,
    secrets: Secrets, oauth: Option[OAuth2Client] = None) {

  private def token: Option[String] = tokenEnv.flatMap(secrets.resolve)

  def applyTo(conn: java.net.HttpURLConnection): Unit = scheme match {
    case "bearer" => token.foreach(t => conn.setRequestProperty("Authorization", s"Bearer $t"))
    case "apiKeyHeader" => token.foreach(t => conn.setRequestProperty(headerName, t))
    case "basic" =>
      for (u <- userEnv.flatMap(secrets.resolve); p <- token) {
        val b64 = java.util.Base64.getEncoder.encodeToString(
          s"$u:$p".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        conn.setRequestProperty("Authorization", s"Basic $b64")
      }
    case "oauth2" =>
      oauth.foreach(o => conn.setRequestProperty("Authorization", s"Bearer ${o.token()}"))
    case "apiKeyQuery" => () // carried as a query param, not a header
  }

  /** 401 recovery hook: for oauth2 the cached token may simply have
    * expired server-side — invalidate it and tell the caller a one-shot
    * retry (which re-mints) is worthwhile. Static-credential schemes
    * can't recover from 401, so no retry there. */
  def onUnauthorized(): Boolean =
    scheme == "oauth2" && oauth.exists { o => o.invalidate(); true }

  /** Extra request query params (apiKeyQuery only), URL-encoded and
    * appended per request — never part of the `url` option. */
  def queryParams: Seq[String] = scheme match {
    case "apiKeyQuery" => token.map(t =>
      s"$queryParam=${java.net.URLEncoder.encode(t, java.nio.charset.StandardCharsets.UTF_8)}").toSeq
    case _ => Nil
  }

  override def toString: String = s"RestAuth($scheme)" // scheme only, never values
}

private[sources] object RestAuth {
  private val schemes = Set("bearer", "apiKeyHeader", "apiKeyQuery", "basic", "oauth2")
  def fromOptions(options: CaseInsensitiveStringMap): RestAuth = {
    val scheme = Option(options.get("authScheme")).getOrElse("bearer")
    require(schemes(scheme),
      s"rest_source: unknown authScheme '$scheme' — supported: ${schemes.toSeq.sorted.mkString(", ")}")
    val secrets = Secrets(Option(options.get("envFile")))
    val oauth = if (scheme == "oauth2") {
      def req(k: String): String = Option(options.get(k)).getOrElse(
        throw new IllegalArgumentException(s"rest_source: authScheme=oauth2 requires option '$k'"))
      Some(OAuth2Client(req("oauthTokenUrl"), req("oauthClientIdEnv"),
        req("oauthClientSecretEnv"), Option(options.get("oauthScope")), secrets))
    } else None
    RestAuth(scheme,
      Option(options.get("authTokenEnv")),
      Option(options.get("authUserEnv")),
      Option(options.get("authHeaderName")).getOrElse("X-API-Key"),
      Option(options.get("authQueryParam")).getOrElse("api_key"),
      secrets, oauth)
  }
}

/** The one HTTP GET loop for this source: retry 429/5xx up to `maxRetries`
  * with exponential backoff, honoring a server-issued `Retry-After`
  * (seconds) when it exceeds the backoff. Shared by the executor-side
  * partition readers (both pagination modes) and the driver-side schema
  * sampler so all survive the same transient failures. */
private[sources] object RestHttp {
  /** GET + retry loop → parsed JSON body (any shape). */
  def fetchNode(target: java.net.URL, auth: RestAuth, maxRetries: Int,
      pace: () => Unit = () => (), warn: String => Unit = _ => (),
      headers: Map[String, String] = Map.empty): JsonNode = {
    var attempt = 0
    var authRetried = false // one in-place re-auth per request, not per backoff
    while (true) {
      pace()
      val conn = target.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(5000); conn.setReadTimeout(15000)
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      auth.applyTo(conn)
      try {
        val code = conn.getResponseCode
        if (code == 200) {
          val body = new String(conn.getInputStream.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
          return RestSource.mapper.readTree(body) // malformed JSON throws → spec's "invalid response" class
        } else if ((code == 429 || code >= 500) && attempt < maxRetries) {
          attempt += 1
          val backoffMs = 50L << attempt // exponential backoff per README.md:33
          // a server-issued Retry-After overrides a shorter backoff; RFC
          // 7231 allows BOTH delta-seconds and an HTTP-date — parse either
          val retryAfterMs = Option(conn.getHeaderField("Retry-After"))
            .map(_.trim).flatMap { v =>
              v.toLongOption.map(_ * 1000L).orElse(
                try {
                  val at = java.time.ZonedDateTime.parse(
                    v, java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME).toInstant
                  Some(math.max(0L, java.time.Duration.between(
                    java.time.Instant.now(), at).toMillis))
                } catch { case _: java.time.format.DateTimeParseException => None })
            }.getOrElse(0L)
          val sleepMs = math.max(backoffMs, retryAfterMs)
          warn(s"rest_source: HTTP $code from $target, retry $attempt after ${sleepMs}ms" +
            (if (retryAfterMs > 0) " (Retry-After honored)" else ""))
          Thread.sleep(sleepMs)
        } else if (code == 401 && !authRetried && auth.onUnauthorized()) {
          // an expiring-token scheme (oauth2) may recover: the cached
          // token is dropped, the immediate retry re-mints and re-sends
          authRetried = true
          warn(s"rest_source: HTTP 401 from $target — refreshing access token and retrying")
        } else {
          throw new java.io.IOException(s"rest_source: HTTP $code from $target after $attempt retries")
        }
      } finally conn.disconnect()
    }
    null // unreachable
  }

  /** Records of a response: a bare JSON array, or — when the server wraps
    * pages in an object ({"data": [...], "total": N}) — the array under
    * `dataField`. `what` names the response in the error. */
  def records(node: JsonNode, dataField: String,
      what: String = "response"): Iterator[JsonNode] =
    if (node.isArray) node.elements().asScala
    else {
      val data = node.get(dataField)
      if (data == null || !data.isArray)
        throw new java.io.IOException(
          s"rest_source: $what is neither a JSON array nor an object " +
            s"with array field '$dataField': $node")
      data.elements().asScala
    }
}

final class RestTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"rest(${options.get("url")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new RestScanBuilder(tableSchema, options)
}

final class RestScanBuilder(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var requiredSchema: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // ONE event_type equality and ONE event_id lower bound become
    // server-side query params (the incremental-extraction pattern:
    // `event_id > last_seen` → &min_id=). ALL filters are returned to
    // Spark for post-scan re-evaluation — the standard DSv2 posture for a
    // source that cannot guarantee the server applies a predicate exactly
    // (a real API's min_id may mean >=; a proxy may ignore the param).
    val eq = filters.collectFirst { case f @ EqualTo("event_type", _: String) => f }
    val gt = filters.collectFirst { case f @ GreaterThan("event_id", _: Long) => f }
    pushed = (eq.toSeq ++ gt.toSeq).toArray
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(s: StructType): Unit = {
    // adopt the engine's pruned schema RECURSIVELY: Spark's DSv2 pushdown
    // (PushDownUtils + nestedSchemaPruning) hands us structs already cut
    // to the referenced subfields, and toCatalyst decodes exactly the
    // requested shape — so a kept struct's unused subfields stop paying
    // parse cost too. Intersect against the table schema as a guard so an
    // engine-added column (e.g. metadata) can't reach the JSON decoder.
    requiredSchema = RestScanBuilder.intersect(tableSchema, s)
  }

  override def build(): Scan = new RestScan(options, requiredSchema, pushed)
}

object RestScanBuilder {
  /** Keep `wanted`'s (possibly nested-pruned) shape for every field that
    * exists in `table`, recursing through structs; unknown fields drop. */
  private[sources] def intersect(table: StructType, wanted: StructType): StructType = {
    val byName = table.fields.map(f => f.name -> f.dataType).toMap
    StructType(wanted.fields.flatMap { f =>
      byName.get(f.name).map {
        case t: StructType => f.dataType match {
          case w: StructType => f.copy(dataType = intersect(t, w))
          case _ => f.copy(dataType = t) // shape disagreement → serve the table's
        }
        case _ => f
      }
    })
  }
}

final class RestScan(options: CaseInsensitiveStringMap, requiredSchema: StructType,
    pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"RestScan(url=${options.get("url")}, pushed=${pushed.mkString(",")})"

  private[sources] def paginationMode: String = {
    val m = Option(options.get("paginationMode")).getOrElse("page")
    require(Set("page", "cursor", "nextUrl").contains(m),
      s"rest_source: unknown paginationMode '$m' — supported: page, cursor, nextUrl")
    m
  }
  private[sources] def chainMode: Boolean = paginationMode != "page"

  private[sources] def readerFactory(): PartitionReaderFactory = {
    val typeParam = pushed.collectFirst { case EqualTo("event_type", v: String) => v }
    val minIdParam = pushed.collectFirst { case GreaterThan("event_id", v: Long) => v }
    RestReaderFactory(
      options.get("url"),
      options.getInt("pageSize", 100),
      RestAuth.fromOptions(options),
      Option(options.get("failMode")),
      options.getInt("maxRetries", 4),
      typeParam,
      minIdParam,
      requiredSchema,
      options.getDouble("requestsPerSecond", 0.0),
      Option(options.get("dataField")).getOrElse("records"),
      Option(options.get("cursorField"))
        .getOrElse(if (paginationMode == "nextUrl") "next" else "nextCursor"),
      Option(options.get("cursorParam")).getOrElse("cursor"),
      // 10k pages ≈ 1M rows at the default pageSize — deep enough for any
      // sane chain; a runaway/cyclic API fails in minutes, not hours
      options.getInt("maxRequests", 10000),
      paginationMode,
      RestSource.staticHeaders(options))
  }

  private[sources] def pageRanges(first: Int, until: Int): Array[InputPartition] = {
    val perPart = options.getInt("pagesPerPartition", 4)
    (first until until by perPart).map { p =>
      RestInputPartition(p, math.min(p + perPart, until) - 1): InputPartition
    }.toArray
  }

  // cursor/nextUrl modes are inherently a sequential walk: each page's
  // address is only known from its predecessor's response, so there is
  // nothing to fan out — ONE partition follows the chain (with the same
  // per-request retry/pacing). If a chained API offers a parallel handle
  // (numbered shards, date slices), encode it in the url and run one
  // reader per slice; opaque single-chain cursors cannot be split from
  // the client.
  override def planInputPartitions(): Array[InputPartition] =
    if (chainMode) Array(RestCursorPartition())
    else pageRanges(0, options.getInt("pages", 1))

  override def createReaderFactory(): PartitionReaderFactory = readerFactory()

  // the reference's CONTINUOUS paginated pull (README.md:33) as a real
  // Structured Streaming source: the offset is the next unread page;
  // each trigger advances by pagesPerTrigger (default: all available),
  // so a long-running query keeps draining new pages as the API grows.
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // a replayable streaming offset must address a page independently of
    // the previous response; an opaque cursor/next link can't (a restarted
    // query could never re-plan a committed-but-unprocessed batch)
    if (chainMode) throw new UnsupportedOperationException(
      s"rest_source: paginationMode=$paginationMode supports batch reads only — " +
        "streaming needs page-addressable offsets (paginationMode=page)")
    new RestMicroBatchStream(this, options)
  }
}

final class RestMicroBatchStream(scan: RestScan, options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private val totalPages = options.getInt("pages", 1)
  private val perTrigger = options.getInt("pagesPerTrigger", totalPages)
  private val pageSize = options.getInt("pageSize", 100)

  private case class PageOffset(page: Int) extends Offset {
    override def json(): String = page.toString
  }

  override def initialOffset(): Offset = PageOffset(0)
  override def deserializeOffset(json: String): Offset = PageOffset(json.toInt)

  // admission control bounds each micro-batch to perTrigger pages past the
  // committed offset — bounding inside planInputPartitions instead would
  // silently skip pages, since the engine commits everything up to the
  // offset this method returns. The engine-supplied ReadLimit is honored:
  // Trigger.Once/AvailableNow pass allAvailable and MUST drain everything
  // in one batch, not stop at pagesPerTrigger.
  override def getDefaultReadLimit: ReadLimit =
    if (perTrigger >= totalPages) ReadLimit.allAvailable()
    else ReadLimit.maxRows(perTrigger.toLong * pageSize)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{ReadAllAvailable, ReadMaxRows}
    val from = start.asInstanceOf[PageOffset].page
    val advance = limit match {
      case _: ReadAllAvailable => totalPages
      case r: ReadMaxRows => math.max(1L, r.maxRows() / pageSize).toInt
      case _ => perTrigger
    }
    PageOffset(math.min(totalPages, from + advance))
  }
  override def reportLatestOffset(): Offset = PageOffset(totalPages)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "use latestOffset(Offset, ReadLimit) — this source supports admission control")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    scan.pageRanges(start.asInstanceOf[PageOffset].page, end.asInstanceOf[PageOffset].page)

  override def createReaderFactory(): PartitionReaderFactory = scan.readerFactory()
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class RestInputPartition(firstPage: Int, lastPage: Int) extends InputPartition

/** The whole cursor chain: one partition, sequential by construction. */
case class RestCursorPartition() extends InputPartition

case class RestReaderFactory(url: String, pageSize: Int, auth: RestAuth,
    failMode: Option[String], maxRetries: Int, typeParam: Option[String],
    minIdParam: Option[Long], requiredSchema: StructType,
    requestsPerSecond: Double, dataField: String, cursorField: String,
    cursorParam: String, maxRequests: Int, mode: String,
    headers: Map[String, String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: RestInputPartition => new RestPartitionReader(p, this)
      case _: RestCursorPartition => new RestCursorReader(this)
      case other => throw new IllegalArgumentException(s"unexpected partition $other")
    }
}

/** Shared per-reader request machinery: token-bucket pacing (proactive
  * rate limiting, README.md:13 — at most `requestsPerSecond` HTTP requests
  * per reader, 0 = off) and the paced/logged fetch. */
private[sources] trait RestRequests extends Logging {
  def cfg: RestReaderFactory

  private val minIntervalNs: Long =
    if (cfg.requestsPerSecond > 0) (1e9 / cfg.requestsPerSecond).toLong else 0L
  private var lastRequestNs: Long = 0L

  private def pace(): Unit = if (minIntervalNs > 0) {
    val waitNs = lastRequestNs + minIntervalNs - System.nanoTime()
    if (waitNs > 0) Thread.sleep(waitNs / 1000000, (waitNs % 1000000).toInt)
    lastRequestNs = System.nanoTime()
  }

  /** query-param tail every request carries: pushed-filter hints, failure
    * injection (test stub), and any auth query param. */
  protected def commonParams: Seq[String] =
    cfg.typeParam.map(t => s"event_type=$t").toSeq ++
      cfg.minIdParam.map(m => s"min_id=$m") ++
      cfg.failMode.map(f => s"fail=$f") ++
      cfg.auth.queryParams

  protected def fetchNode(params: Seq[String]): JsonNode =
    fetchUrl(cfg.url, params)

  /** fetch an arbitrary base url (nextUrl walks) + extra query params. */
  protected def fetchUrl(base: String, params: Seq[String]): JsonNode = {
    val target =
      if (params.isEmpty) new java.net.URI(base).toURL
      else {
        val sep = if (base.contains("?")) "&" else "?"
        new java.net.URI(base + sep + params.mkString("&")).toURL
      }
    RestHttp.fetchNode(target, cfg.auth, cfg.maxRetries,
      pace = () => pace(), warn = m => logWarning(m), headers = cfg.headers)
  }
}

/** Sequential chain walk (paginationMode=cursor | nextUrl): request page 1
  * plainly, then follow `cursorField` from each response's object body
  * until it is null/absent. In cursor mode the field is an opaque token
  * resent as `cursorParam`; in nextUrl mode it is the next page's URL
  * (possibly relative — resolved against the base url, the Link-header/
  * HATEOAS style), fetched as given plus the auth query param. Every
  * fetch goes through the same retry/backoff/pacing as the page-numbered
  * path, so a 429 mid-walk resumes from the SAME position — no progress
  * lost, no page re-fetched. */
final class RestCursorReader(val cfg: RestReaderFactory)
    extends PartitionReader[InternalRow] with RestRequests {

  private var cursor: Option[String] = None // token, or next URL
  // every cursor the walk has seen, bounded so a genuinely deep chain of
  // unique tokens can't grow driver memory without limit; a repeat within
  // the window means the chain loops (A→B→A as much as A→A) and would
  // otherwise walk silently until maxRequests
  private val seenCursors = new java.util.LinkedHashSet[String]()
  private val seenCursorCap = 4096
  private var done = false
  private var requests = 0
  private var rows: Iterator[JsonNode] = Iterator.empty
  private var current: JsonNode = _

  private def fetchNext(): Unit = {
    require(requests < cfg.maxRequests,
      s"rest_source: ${cfg.mode} walk exceeded maxRequests=${cfg.maxRequests} — " +
        "runaway chain? raise the option if the API is really that deep")
    requests += 1
    val node = (cfg.mode, cursor) match {
      case ("nextUrl", Some(next)) =>
        // the server authored this URL — only the auth param is appended
        // (a server echoes paging params, never credentials)
        fetchUrl(new java.net.URI(cfg.url).resolve(next).toString, cfg.auth.queryParams)
      case (_, c) =>
        fetchNode(Seq(s"limit=${cfg.pageSize}") ++
          c.map(t => s"${cfg.cursorParam}=${java.net.URLEncoder.encode(t, java.nio.charset.StandardCharsets.UTF_8)}") ++
          commonParams)
    }
    rows = RestHttp.records(node, cfg.dataField)
    val next = node.get(cfg.cursorField)
    if (next == null || next.isNull) done = true
    else {
      val c = next.asText()
      // a non-advancing or cyclic chain would walk until maxRequests —
      // fail loudly on ANY repeat within the seen window instead
      if (!seenCursors.add(c)) throw new java.io.IOException(
        s"rest_source: ${cfg.mode} chain revisited cursor '$c' — " +
          "non-advancing or cyclic pagination")
      if (seenCursors.size > seenCursorCap) {
        val it = seenCursors.iterator(); it.next(); it.remove()
      }
      cursor = Some(c)
    }
  }

  override def next(): Boolean = {
    while (!rows.hasNext && !done) fetchNext()
    if (rows.hasNext) { current = rows.next(); true } else false
  }

  override def get(): InternalRow =
    RestSource.toCatalyst(current, cfg.requiredSchema).asInstanceOf[InternalRow]

  override def close(): Unit = ()
}

final class RestPartitionReader(part: RestInputPartition, val cfg: RestReaderFactory)
    extends PartitionReader[InternalRow] with RestRequests {

  private var page = part.firstPage
  private var rows: Iterator[JsonNode] = Iterator.empty
  private var current: JsonNode = _

  private def fetchPage(p: Int): Iterator[JsonNode] =
    // bare-array pages and {"data": [...]}-wrapped pages both decode
    RestHttp.records(fetchNode(Seq(s"page=$p", s"limit=${cfg.pageSize}") ++ commonParams),
      cfg.dataField)

  override def next(): Boolean = {
    while (!rows.hasNext && page <= part.lastPage) {
      rows = fetchPage(page)
      page += 1
    }
    if (rows.hasNext) { current = rows.next(); true } else false
  }

  override def get(): InternalRow =
    RestSource.toCatalyst(current, cfg.requiredSchema).asInstanceOf[InternalRow]

  override def close(): Unit = ()
}
