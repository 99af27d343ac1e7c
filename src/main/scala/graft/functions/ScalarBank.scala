package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** §2.G scalar-function banks (SURVEY.md) — the reference's
  * "clean or reformat the data" transform stage
  * (/root/reference/README.md:23) made concrete across the string / date /
  * math / conditional / array / map / JSON surfaces.
  *
  * Everything here is a built-in codegen'd expression — per-row, no
  * shuffle; at 100 TB these run inside the scan's whole-stage-codegen span.
  * Dialect guards for the DuckDB oracles: regexes stay inside simple
  * character classes, DuckDB regexp_replace gets the 'g' flag (Spark
  * replaces globally by default), coarse `round()` on data-derived doubles
  * is avoided (half-up vs half-even would diverge; 6-dp rounding of 2-dp
  * data is exact).
  */
object ScalarBank extends graft.Bank {

  val queries: Map[String, QFn] = Map(
    "fn_string" -> ((s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_brand")).as("lo"),
          trim(col("p_name")).as("tr"),
          substring(col("p_name"), 1, 8).as("sub"),
          concat_ws("-", col("p_brand"), col("p_type")).as("cw"),
          lpad(col("p_size").cast("string"), 3, "0").as("lp"),
          length(col("p_name")).as("len"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("novowel"),
          split_part(col("p_type"), lit(" "), lit(1)).as("first_word"),
          regexp_extract(col("p_brand"), "#([0-9]+)", 1).as("brand_num"))
        .orderBy(col("p_partkey"))
    }),

    // Formatting bank — the presentation layer export/report sinks need
    // (zero-padded ids, calendar buckets as strings, printf
    // composition): date patterns kept NUMERIC (weekday/month NAMES
    // are locale-dependent and diverge by engine), C-style
    // format_string/printf with the %d operand cast to the same width
    // on both engines. Pure codegen'd per-row expressions, zero shuffle.
    "fn_format" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month_str"),
          date_format(col("o_orderdate"), "yyyy/MM/dd").as("date_str"),
          format_string("%05d-%s", col("o_orderkey") % 100000,
            col("o_orderstatus")).as("tag"),
          lpad(col("o_orderkey").cast("string"), 12, "0").as("key12"),
          concat_ws("|", col("o_orderstatus"), col("o_orderpriority"))
            .as("joined"))
        .orderBy(col("o_orderkey"))
    }),

    // Cryptographic-hash bank — the content-addressing layer every
    // dedup/caching/lineage system sits on (doc content keys, chunk
    // ids, cache keys): md5 / sha2-256 over the document text,
    // all standardized algorithms so both engines agree byte-for-byte
    // (unlike engine-seeded xxhash/murmur, which stay un-oracled by
    // design), plus a truncated 16-hex shard prefix — the practical
    // "content id" column. Pure codegen'd per-row expressions.
    "fn_hash" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("md5"),
          sha2(col("text").cast("binary"), 256).as("sha256"),
          substring(sha2(col("text").cast("binary"), 256), 1, 16)
            .as("content_id"),
          length(col("text")).as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // errors-as-data (Spark 4 runs ANSI mode, where /0, bad casts and
    // out-of-range element_at THROW): the try_* family turns per-row
    // failures into NULLs — the posture an ETL pipeline needs so one junk
    // record quarantines instead of killing a 100 TB job (the same
    // fail-soft policy as scan_corrupt/ingest_quarantine, expressed at
    // the scalar layer).
    "fn_try" -> ((s, dir) => {
      events(s, dir)
        .select(
          col("event_id"),
          round(try_divide(col("value"), (col("user_id") % 7).cast("double")), 6)
            .as("per_unit"), // user_id % 7 == 0 → NULL, not an ANSI error
          try_element_at(split(col("props"), " "),
            (col("event_id") % 3 + 1).cast("int")).as("tok"), // index 3 → NULL
          expr("""try_cast(CASE WHEN event_id % 5 = 0 THEN 'n/a'
                  ELSE CAST(event_id AS STRING) END AS BIGINT)""").as("parsed"))
        .orderBy(col("event_id"))
    }),

    // regex bank beyond fn_string's extract/replace: count, extract-all,
    // boolean match, first-match-or-null — all codegen'd per-row
    // expressions (commons-compatible patterns only, so the Java and RE2
    // engines agree).
    // URL parsing bank — the web-log/referrer primitive every ingest
    // pipeline needs (and the sibling of url_canonicalize's dedup view):
    // scheme/host/path/query-param extraction as plain regexes with the
    // IDENTICAL pattern on both engines (Spark's parse_url has no DuckDB
    // twin — regex extraction is the portable formulation and what runs
    // inside codegen anyway). URLs synthesize deterministically per
    // order (the text_pii_scrub appended-fixture precedent).
    "fn_url" -> ((s, dir) => {
      t(s, dir, "orders")
        .withColumn("url", concat(lit("https://shop.example.com/"),
          lower(col("o_orderpriority")), lit("/item?id="), col("o_orderkey"),
          lit("&cust="), col("o_custkey")))
        .select(col("o_orderkey"),
          regexp_extract(col("url"), "^([a-z]+)://", 1).as("scheme"),
          regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1).as("host"),
          regexp_extract(col("url"), "^[a-z]+://[^/]+(/[^?]*)", 1).as("path"),
          regexp_extract(col("url"), "[?&]id=([0-9]+)", 1).cast("bigint")
            .as("q_id"),
          regexp_extract(col("url"), "[?&]cust=([0-9]+)", 1).cast("bigint")
            .as("q_cust"))
        .orderBy(col("o_orderkey"))
    }),

    "fn_regex" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_count(col("text"), lit("ba\\w+")).cast("bigint").as("n_ba"),
          array_join(regexp_extract_all(col("text"), lit("ba\\w+"), lit(0)), ",")
            .as("ba_words"),
          regexp_like(col("text"), lit("stream")).as("has_stream"),
          regexp_substr(col("text"), lit("wi\\w+")).as("first_wi"))
        .orderBy(col("doc_id"))
    }),

    "fn_datetime" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          date_add(col("o_orderdate").cast("date"), 3).as("plus3"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")).as("days_since"),
          last_day(col("o_orderdate").cast("date")).as("eom"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"))
        .orderBy(col("o_orderkey"))
    }),

    // bitwise bank — the ops behind hash partitioners, bitmap indexes,
    // flag columns and bucket routing: AND/OR/XOR/NOT, shifts, popcount.
    // Pure 64-bit integer arithmetic, identical in both engines.
    "fn_bitwise" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          col("o_orderkey").bitwiseAND(lit(255L)).as("b_and"),
          col("o_orderkey").bitwiseOR(lit(4096L)).as("b_or"),
          col("o_orderkey").bitwiseXOR(col("o_custkey")).as("b_xor"),
          shiftleft(col("o_orderkey"), 3).as("b_shl"),
          shiftright(col("o_orderkey"), 2).as("b_shr"),
          expr("bit_count(o_orderkey)").as("b_pop"),
          expr("~o_custkey").as("b_not"))
        .orderBy(col("o_orderkey"))
    }),

    "fn_math" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          abs(col("l_discount") - col("l_tax")).as("adiff"),
          ceil(col("l_quantity") / 7.0).cast("bigint").as("cl"),
          floor(col("l_quantity") / 7.0).cast("bigint").as("fl"),
          r6(sqrt(col("l_extendedprice"))).as("sq"),
          r6(pow(col("l_discount"), 2)).as("p2"),
          r6(log(col("l_extendedprice"))).as("lg"),
          greatest(col("l_discount"), col("l_tax")).as("gr"),
          least(col("l_discount"), col("l_tax")).as("ls"),
          r6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    }),

    "fn_cond" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          when(col("c_acctbal") >= 5000, "high")
            .when(col("c_acctbal") >= 0, "mid")
            .otherwise("neg").as("tier"),
          expr("nullif(c_mktsegment, 'BUILDING')").as("seg_n"),
          coalesce(expr("nullif(c_mktsegment, 'BUILDING')"), lit("B")).as("seg_filled"),
          when(col("c_acctbal") < 0, "overdrawn").otherwise("ok").as("status"))
        .orderBy(col("c_custkey"))
    }),

    "fn_array" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          round(expr("aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE))"), 6).as("vsum"),
          size(expr("filter(embedding, x -> x > 0)")).as("n_pos"),
          // boundary serialization: micro-scaled BIGINTs joined to one
          // string (double→string rendering differs across engines; the
          // driver's pandas compare cannot hash array cells)
          expr("""array_join(transform(slice(embedding, 1, 3),
                  x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS STRING)), ',')""").as("first3"))
        .orderBy(col("vec_id"))
    }),

    // keys/values are serialized at the boundary (Spark preserves map
    // insertion order, so 'type,k' is deterministic); the typed map form
    // is covered in the unit suite. concat_ws skips a null 'k' value
    // identically in both engines.
    "fn_map" -> ((s, dir) => {
      events(s, dir)
        .withColumn("m", expr("map('type', event_type, 'k', CAST(get_json_object(props, '$.k') AS STRING))"))
        .select(
          col("event_id"),
          concat_ws(",", map_keys(col("m"))).as("ks"),
          concat_ws(",", map_values(col("m"))).as("vs"),
          expr("m['type']").as("type_v"))
        .orderBy(col("event_id"))
    }),

    "fn_json" -> ((s, dir) => {
      events(s, dir)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_int"),
          get_json_object(col("props"), "$.k").as("k_str"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType)
          ))).getField("k").as("k_struct"))
        .orderBy(col("event_id"))
    }),

    // XML scalar surface: per-row XML construction + xpath extraction
    // (xpath_string / xpath_long / xpath_boolean — Hive-lineage built-ins,
    // all codegen'd, scan-grain). The embedded text is entity-escaped
    // (& < > — the minimal text-node set) so a value containing markup
    // chars yields well-formed XML; xpath_string decodes the entities
    // back, so the oracle's algebraic inversion (extraction of what
    // format_string embedded IS the source column) holds for ANY corpus,
    // not just the current ASCII-word one. DuckDB needs no XML support —
    // the check proves the round-trip, not the parser.
    "fn_xml" -> ((s, dir) => {
      val esc = regexp_replace(regexp_replace(regexp_replace(
        col("event_type"), "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      events(s, dir)
        .withColumn("xml", format_string(
          "<e><id>%d</id><t>%s</t></e>", col("event_id"), esc))
        .select(col("event_id"),
          expr("xpath_long(xml, '/e/id/text()')").as("xid"),
          expr("xpath_string(xml, '/e/t/text()')").as("xtype"),
          expr("xpath_boolean(xml, '/e/id > 0')").cast("int").as("xpos"))
        .orderBy(col("event_id"))
    }),

    // calendar/interval arithmetic surface: add_months (month-end
    // clamped identically on both engines), last_day, quarter trunc,
    // and integer month/day horizons — the date plumbing of every
    // retention/cohort/fiscal rollup. months_to_eoy is the INTEGER
    // calendar-month difference (Spark's fractional months_between has
    // engine-specific /31 semantics with no DuckDB twin — deliberately
    // not exposed). All codegen'd built-ins, scan-grain.
    "fn_interval" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"),
        add_months(col("o_orderdate"), 3).as("plus_3m"),
        last_day(col("o_orderdate")).as("month_end"),
        date_trunc("quarter", col("o_orderdate")).cast("date").as("quarter_start"),
        ((lit(1998) - year(col("o_orderdate"))) * 12 +
          (lit(12) - month(col("o_orderdate")))).as("months_to_eoy"),
        datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date"))
          .as("days_to_eoy"))
        .orderBy(col("o_orderkey"))
    }),

    // struct-manipulation surface: struct(), withField, dropFields and
    // field access — the nested-record plumbing every evolving-schema
    // pipeline leans on (add a derived field, retire a raw one, read
    // through). The boundary projects FLATTENED scalars (the fn_array
    // serialization lesson: engines render nested literals differently;
    // field VALUES compare exactly). All codegen'd built-ins.
    "fn_struct" -> ((s, dir) => {
      t(s, dir, "customer")
        .withColumn("cust", struct(col("c_custkey").as("id"),
          col("c_mktsegment").as("seg"), col("c_acctbal").as("bal")))
        .withColumn("cust2", col("cust").withField("bal_cents",
          expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)")))
        .withColumn("cust3", col("cust2").dropFields("bal"))
        .select(col("c_custkey"),
          col("cust.seg").as("seg"),
          col("cust2.bal_cents").as("bal_cents"),
          expr("cust3.id").as("id_after_drop"),
          lit(3).as("n_fields_after_drop"))
        .orderBy(col("c_custkey"))
    }),

    // §2.J udf_scalar: Scala UDF in a query (prod note: prefer built-in
    // expression composition — UDFs are codegen-opaque; this exists to
    // cover the UDF surface itself).
    "udf_scalar" -> ((s, dir) => {
      val cleanText = udf((x: String) =>
        if (x == null) null else x.trim.toLowerCase.replaceAll("\\s+", " "))
      t(s, dir, "part")
        .select(col("p_partkey"), cleanText(col("p_name")).as("clean_name"))
        .orderBy(col("p_partkey"))
    }))

  val oracles: Map[String, String] = Map(
    "fn_interval" ->
      """SELECT o_orderkey,
                CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3m,
                last_day(CAST(o_orderdate AS DATE)) AS month_end,
                CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start,
                CAST((1998 - year(o_orderdate)) * 12
                     + (12 - month(o_orderdate)) AS INT) AS months_to_eoy,
                CAST(date_diff('day', CAST(o_orderdate AS DATE),
                               DATE '1998-12-31') AS INT) AS days_to_eoy
         FROM orders ORDER BY o_orderkey""",
    "fn_struct" ->
      """SELECT c_custkey, c_mktsegment AS seg,
                CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents,
                c_custkey AS id_after_drop,
                CAST(3 AS INT) AS n_fields_after_drop
         FROM customer ORDER BY c_custkey""",
    "fn_hash" ->
      """SELECT doc_id, md5(text) AS md5,
         sha256(text) AS sha256, substring(sha256(text), 1, 16) AS content_id,
         CAST(length(text) AS BIGINT) AS n_chars
         FROM documents ORDER BY doc_id""",
    "fn_try" ->
      """SELECT event_id,
         round(value / nullif(user_id % 7, 0), 6) AS per_unit,
         list_extract(string_split(props, ' '), CAST(event_id % 3 + 1 AS INT)) AS tok,
         TRY_CAST(CASE WHEN event_id % 5 = 0 THEN 'n/a'
                  ELSE CAST(event_id AS VARCHAR) END AS BIGINT) AS parsed
         FROM events ORDER BY event_id""",
    // DuckDB regexp_extract returns '' on no-match where Spark's
    // regexp_substr returns NULL — nullif aligns them ( \w+ patterns
    // cannot match empty, so '' is unambiguous)
    "fn_url" ->
      """WITH u AS (
           SELECT o_orderkey,
                  'https://shop.example.com/' || lower(o_orderpriority)
                    || '/item?id=' || o_orderkey || '&cust=' || o_custkey AS url
           FROM orders)
         SELECT o_orderkey,
                regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
                regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
                regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
                CAST(regexp_extract(url, '[?&]id=([0-9]+)', 1) AS BIGINT) AS q_id,
                CAST(regexp_extract(url, '[?&]cust=([0-9]+)', 1) AS BIGINT) AS q_cust
         FROM u ORDER BY o_orderkey""",
    "fn_regex" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text, 'ba\w+')) AS BIGINT) AS n_ba,
         coalesce(array_to_string(regexp_extract_all(text, 'ba\w+'), ','), '') AS ba_words,
         regexp_matches(text, 'stream') AS has_stream,
         nullif(regexp_extract(text, 'wi\w+'), '') AS first_wi
         FROM documents ORDER BY doc_id""",
    "fn_string" ->
      """SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo, trim(p_name) AS tr,
         substring(p_name, 1, 8) AS sub, concat_ws('-', p_brand, p_type) AS cw,
         lpad(CAST(p_size AS VARCHAR), 3, '0') AS lp, length(p_name) AS len,
         regexp_replace(p_name, '[aeiou]', '', 'g') AS novowel,
         split_part(p_type, ' ', 1) AS first_word,
         regexp_extract(p_brand, '#([0-9]+)', 1) AS brand_num
         FROM part ORDER BY p_partkey""",
    "fn_format" ->
      """SELECT o_orderkey,
         strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month_str,
         strftime(CAST(o_orderdate AS DATE), '%Y/%m/%d') AS date_str,
         printf('%05d-%s', CAST(o_orderkey % 100000 AS INT), o_orderstatus) AS tag,
         lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS key12,
         concat_ws('|', o_orderstatus, o_orderpriority) AS joined
         FROM orders ORDER BY o_orderkey""",
    "fn_datetime" ->
      """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
         day(o_orderdate) AS d,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         CAST(o_orderdate AS DATE) + 3 AS plus3,
         date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
         last_day(CAST(o_orderdate AS DATE)) AS eom,
         epoch_us(o_orderdate) // 1000000 AS epoch_s
         FROM orders ORDER BY o_orderkey""",
    "fn_bitwise" ->
      """SELECT o_orderkey,
         o_orderkey & 255 AS b_and,
         o_orderkey | 4096 AS b_or,
         xor(o_orderkey, o_custkey) AS b_xor,
         o_orderkey << 3 AS b_shl,
         o_orderkey >> 2 AS b_shr,
         CAST(bit_count(o_orderkey) AS INTEGER) AS b_pop,
         ~o_custkey AS b_not
         FROM orders ORDER BY o_orderkey""",
    "fn_math" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         abs(l_discount - l_tax) AS adiff,
         CAST(ceil(l_quantity / 7.0) AS BIGINT) AS cl,
         CAST(floor(l_quantity / 7.0) AS BIGINT) AS fl,
         round(CAST(sqrt(l_extendedprice) AS DOUBLE), 6) AS sq,
         round(CAST(pow(l_discount, 2) AS DOUBLE), 6) AS p2,
         round(CAST(ln(l_extendedprice) AS DOUBLE), 6) AS lg,
         greatest(l_discount, l_tax) AS gr, least(l_discount, l_tax) AS ls,
         round(CAST(l_extendedprice * (1.0 - l_discount) AS DOUBLE), 6) AS rev
         FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""",
    "fn_cond" ->
      """SELECT c_custkey,
         CASE WHEN c_acctbal >= 5000 THEN 'high' WHEN c_acctbal >= 0 THEN 'mid' ELSE 'neg' END AS tier,
         nullif(c_mktsegment, 'BUILDING') AS seg_n,
         coalesce(nullif(c_mktsegment, 'BUILDING'), 'B') AS seg_filled,
         CASE WHEN c_acctbal < 0 THEN 'overdrawn' ELSE 'ok' END AS status
         FROM customer ORDER BY c_custkey""",
    "fn_array" ->
      """SELECT vec_id, len(embedding) AS dim,
         round(list_aggregate(list_transform(embedding, x -> x::DOUBLE), 'sum'), 6) AS vsum,
         len(list_filter(embedding, x -> x > 0)) AS n_pos,
         array_to_string(list_transform(embedding[1:3], x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)), ',') AS first3
         FROM embeddings ORDER BY vec_id""",
    "fn_map" ->
      """SELECT event_id, 'type,k' AS ks,
         concat_ws(',', event_type, json_extract_string(props, '$.k')) AS vs,
         event_type AS type_v
         FROM events ORDER BY event_id""",
    "fn_json" ->
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
         json_extract_string(props, '$.k') AS k_str,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_struct
         FROM events ORDER BY event_id""",
    "fn_xml" ->
      """SELECT event_id, event_id AS xid, event_type AS xtype,
         CAST(event_id > 0 AS INT) AS xpos
         FROM events ORDER BY event_id""",
    "udf_scalar" ->
      """SELECT p_partkey, regexp_replace(lower(trim(p_name)), '\s+', ' ', 'g') AS clean_name
         FROM part ORDER BY p_partkey"""
  )
}
