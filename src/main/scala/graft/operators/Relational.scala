package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** §2.B projection/filter/cleaning and §2.C join taxonomy (SURVEY.md).
  *
  * The cleaning bank is the reference's transform stage
  * (/root/reference/README.md:23, :33) made concrete; the join taxonomy
  * covers every join shape the update/audit semantics need
  * (README.md:29,:34).
  *
  * Scale notes: all equi-joins here shuffle both sides on the join key
  * unless one side is broadcast-able — `join_broadcast` demonstrates the
  * dimension-table pattern (nation/region stay map-side at any scale).
  * `join_asof`'s window emulation shuffles once on user_id; the per-key
  * state is bounded by events-per-user, which is what a 1000-executor
  * cluster partitions on anyway.
  */
object Relational extends graft.Bank {

  val queries: Map[String, QFn] = Map(
    // ---- 2.B cleaning ----
    "project_select" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          r6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          col("l_quantity").as("qty"))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        // partkey+suppkey complete the unique sort key (verified at all SFs)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    }),

    "filter_pred" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(
          ((col("o_orderstatus").isin("F", "P") &&
            col("o_totalprice").between(50000, 150000) &&
            col("o_orderpriority").like("1%")) ||
            (col("o_orderstatus") === "O" && col("o_totalprice") > 400000)) &&
            col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    "cast_coerce" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_shipdate").cast("date").as("ship_d"),
          // the decimal(12,2) coercion is the operator under test; the
          // boundary renders it as a rounded double because the driver's
          // pandas compare sees parquet DECIMAL as Python Decimal objects
          // while DuckDB dumps float64 — same values, different hash.
          round(col("l_extendedprice").cast("decimal(12,2)").cast("double"), 2).as("price_dec"),
          col("l_linenumber").cast("bigint").as("ln_big"),
          col("l_linenumber").cast("string").as("ln_str"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    }),

    "null_clean" -> ((s, dir) => {
      events(s, dir)
        .withColumn("et_raw", expr("nullif(event_type, 'view')"))
        .na.fill(Map("et_raw" -> "unknown"))
        .withColumnRenamed("et_raw", "et_clean")
        .withColumn("v_clean",
          r6(coalesce(when(col("value") < 1.0, lit(null)).otherwise(col("value")), lit(-1.0))))
        .na.drop(Seq("event_id", "user_id"))
        .select(col("event_id"), col("et_clean"), col("v_clean"))
        .orderBy(col("event_id"))
    }),

    "valid_split" -> ((s, dir) => {
      events(s, dir)
        .withColumn("_valid",
          col("value") >= 0 &&
            col("event_type").isin(EventTypes: _*) &&
            col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("event_id"), col("_valid"))
        .orderBy(col("event_id"))
    }),

    "dedup_exact" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type")).orderBy(col("event_id"))
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id").as("first_event"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // ---- 2.C joins ----
    "join_inner" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    "join_left" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(
          col("c_custkey"),
          coalesce(col("o_orderkey"), lit(-1L)).as("o_key"),
          coalesce(col("o_totalprice"), lit(0.0)).as("price"))
        .orderBy(col("c_custkey"), col("o_key"))
    }),

    "join_full" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("fk")).distinct()
      val p = o.filter(col("o_orderstatus") === "P").select(col("o_custkey").as("pk")).distinct()
      f.join(p, f("fk") === p("pk"), "full")
        .select(
          coalesce(col("fk"), col("pk")).as("custkey"),
          col("fk").isNotNull.as("has_f"),
          col("pk").isNotNull.as("has_p"))
        .orderBy(col("custkey"))
    }),

    "join_semi" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "join_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "join_broadcast" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      l.join(sup, l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    "join_theta" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      l.join(p, l("l_partkey") === p("p_partkey") &&
          l("l_extendedprice") > p("p_retailprice") * lit(25.0))
        .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"), col("l_suppkey"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("p_partkey"), col("l_suppkey"))
    }),

    // point-in-interval RANGE join on the bucket-decomposition plan: the
    // naive `p.ts BETWEEN i.start AND i.end` predicate has no equi-key, so
    // Spark plans it as a nested-loop join — O(points × intervals), dead at
    // scale. Decomposed: both sides map to fixed-width time buckets (width
    // = the interval length, so every interval covers ≤2 buckets and every
    // point exactly 1), equi-join on the bucket, then post-filter the exact
    // bounds. That turns an unbounded theta join into a hash join whose
    // shuffle keys are calendar buckets — at 100 TB both sides partition by
    // bucket and calendar hotspots are ordinary key skew (salt or AQE).
    // Here: per urgent March-1995 order, lineitems shipped within 7 days.
    "join_range_bucket" -> ((s, dir) => {
      val epoch = lit("1992-01-01")
      val iv = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1995-03-01") && col("o_orderdate") < lit("1995-04-01"))
        .select(col("o_orderkey"), col("o_orderdate"),
          floor(datediff(col("o_orderdate"), epoch) / 7).as("b0"))
        .withColumn("bucket", explode(array(col("b0"), col("b0") + 1)))
      val pts = t(s, dir, "lineitem")
        .select(col("l_shipdate"),
          floor(datediff(col("l_shipdate"), epoch) / 7).as("bucket"))
      pts.join(iv, "bucket")
        .filter(col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 7 DAYS"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(count(lit(1)).as("n_shipped"))
        .orderBy(col("o_orderkey"))
    }),

    "join_cross" -> ((s, dir) => {
      val r = t(s, dir, "region").select(col("r_name"))
      val seg = t(s, dir, "customer").select(col("c_mktsegment")).distinct()
      r.crossJoin(seg).orderBy(col("r_name"), col("c_mktsegment"))
    }),

    "join_asof" -> ((s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      val w = Window.partitionBy(col("event_id"))
        .orderBy(col("v_ts").desc_nulls_last, col("view_id").desc_nulls_last)
      p.join(v, p("user_id") === v("v_user") && v("v_ts") < p("ts"), "left")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"), coalesce(col("view_id"), lit(-1L)).as("prior_view_id"))
        .orderBy(col("event_id"))
    }),

    // as-of with a STALENESS BOUND: the latest prior view only counts if
    // it happened within 30 minutes of the purchase (the tolerance every
    // real as-of API exposes — attribution windows, sensor validity,
    // quote staleness). The bound also matters at scale: it caps the
    // range-join pair expansion at |events in 30 min| per probe instead
    // of the unbounded all-history blow-up, so the emulation stays
    // shuffle-join-shaped even on years of log.
    "join_asof_tolerance" -> ((s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      val w = Window.partitionBy(col("event_id"))
        .orderBy(col("v_ts").desc_nulls_last, col("view_id").desc_nulls_last)
      p.join(v,
          p("user_id") === v("v_user") && v("v_ts") < p("ts") &&
            v("v_ts") >= p("ts") - expr("INTERVAL 30 MINUTES"), "left")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"),
          coalesce(col("view_id"), lit(-1L)).as("prior_view_id"))
        .orderBy(col("event_id"))
    }),

    // FORWARD as-of: the EARLIEST matching event strictly AFTER the probe
    // (post-purchase follow-up attribution; the mirror direction every
    // real as-of API exposes alongside backward). Same emulation shape —
    // keyed equi-join + per-probe rank-1 window — with the ordering
    // reversed; ties break to the lowest event id, mirroring backward's
    // highest-id break.
    "join_asof_forward" -> ((s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      val w = Window.partitionBy(col("event_id"))
        .orderBy(col("v_ts").asc_nulls_last, col("view_id").asc_nulls_last)
      p.join(v, p("user_id") === v("v_user") && v("v_ts") > p("ts"), "left")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"),
          coalesce(col("view_id"), lit(-1L)).as("next_view_id"))
        .orderBy(col("event_id"))
    }),

    // NEAREST as-of: the minimal-|Δt| match in EITHER direction (sensor
    // alignment, closest-quote joins). Distance is exact integer
    // microseconds (no double time arithmetic); ties break backward
    // (earlier event) then lowest id — the trio backward/forward/nearest
    // now covers every direction a real as-of API exposes.
    "join_asof_nearest" -> ((s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      val w = Window.partitionBy(col("event_id"))
        .orderBy(col("dist").asc_nulls_last, col("v_ts").asc_nulls_last,
          col("view_id").asc_nulls_last)
      p.join(v, p("user_id") === v("v_user"), "left")
        .withColumn("dist", abs(expr("unix_micros(v_ts) - unix_micros(ts)")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"),
          coalesce(col("view_id"), lit(-1L)).as("nearest_view_id"))
        .orderBy(col("event_id"))
    }),

    // same as-of semantics through the NATIVE operator (custom logical
    // node + strategy + sort-merge exec, graft.plans.AsofJoin) — linear
    // merge instead of the emulation's pair blow-up; checked against the
    // identical oracle.
    "join_asof_native" -> ((s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      graft.plans.AsofJoinApi.asofJoin(p, v, "user_id", "v_user", "ts", "v_ts", "view_id")
        .select(col("event_id"), col("user_id"), coalesce(col("view_id"), lit(-1L)).as("prior_view_id"))
        .orderBy(col("event_id"))
    }),

    // FORWARD mode through the native sorted-merge operator — the same
    // linear one-pass merge as join_asof_native (candidate taken from the
    // cursor's far side instead of the buffer), checked against
    // join_asof_forward's oracle.
    "join_asof_native_forward" -> ((s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      graft.plans.AsofJoinApi.asofJoin(p, v, "user_id", "v_user", "ts", "v_ts", "view_id",
          graft.plans.AsofMode.Forward)
        .select(col("event_id"), col("user_id"), coalesce(col("view_id"), lit(-1L)).as("next_view_id"))
        .orderBy(col("event_id"))
    }),

    // NEAREST mode through the native operator: min |Δts| either side of
    // the cursor, distance ties backward then smallest id — the emulation
    // ranks |Δ| over ALL candidate pairs per probe; the merge holds O(1)
    // state (latest behind-run + the lookahead) per key instead.
    "join_asof_native_nearest" -> ((s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      graft.plans.AsofJoinApi.asofJoin(p, v, "user_id", "v_user", "ts", "v_ts", "view_id",
          graft.plans.AsofMode.Nearest)
        .select(col("event_id"), col("user_id"), coalesce(col("view_id"), lit(-1L)).as("nearest_view_id"))
        .orderBy(col("event_id"))
    }),

    // TOLERANCE mode through the native operator — the staleness bound
    // (30 min) applied as an O(1) per-probe check on the merge's selected
    // candidate, completing the native family (backward/forward/nearest/
    // tolerance now all ride the one-pass sorted merge). Checked against
    // join_asof_tolerance's windowed-emulation oracle.
    "join_asof_tolerance_native" -> ((s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      graft.plans.AsofJoinApi.asofJoin(p, v, "user_id", "v_user", "ts", "v_ts", "view_id",
          graft.plans.AsofMode.Backward, toleranceMicros = Some(30L * 60 * 1000000))
        .select(col("event_id"), col("user_id"),
          coalesce(col("view_id"), lit(-1L)).as("prior_view_id"))
        .orderBy(col("event_id"))
    }))

  val oracles: Map[String, String] = Map(
    "project_select" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         round(CAST(l_extendedprice * (1.0 - l_discount) AS DOUBLE), 6) AS revenue,
         l_quantity AS qty
         FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""",
    "filter_pred" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE ((o_orderstatus IN ('F','P') AND o_totalprice BETWEEN 50000 AND 150000
                 AND o_orderpriority LIKE '1%')
             OR (o_orderstatus = 'O' AND o_totalprice > 400000))
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         ORDER BY o_orderkey""",
    "cast_coerce" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         CAST(l_shipdate AS DATE) AS ship_d,
         round(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE), 2) AS price_dec,
         CAST(l_linenumber AS BIGINT) AS ln_big,
         CAST(l_linenumber AS VARCHAR) AS ln_str
         FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""",
    "null_clean" ->
      """SELECT event_id,
         coalesce(nullif(event_type, 'view'), 'unknown') AS et_clean,
         round(CAST(coalesce(CASE WHEN value < 1.0 THEN NULL ELSE value END, -1.0) AS DOUBLE), 6) AS v_clean
         FROM events WHERE event_id IS NOT NULL AND user_id IS NOT NULL
         ORDER BY event_id""",
    "valid_split" ->
      """SELECT event_id,
         (value >= 0 AND event_type IN ('error','signup','purchase','view','click')
          AND ts IS NOT NULL AND user_id IS NOT NULL) AS _valid
         FROM events ORDER BY event_id""",
    "dedup_exact" ->
      """SELECT user_id, event_type, event_id AS first_event FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) = 1
         ORDER BY user_id, event_type""",
    "join_inner" ->
      """SELECT o_orderkey, c_name, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey""",
    "join_left" ->
      """SELECT c_custkey, coalesce(o_orderkey, -1) AS o_key, coalesce(o_totalprice, 0.0) AS price
         FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
           ON c_custkey = o.o_custkey
         ORDER BY c_custkey, o_key""",
    "join_full" ->
      """SELECT coalesce(fk, pk) AS custkey, fk IS NOT NULL AS has_f, pk IS NOT NULL AS has_p
         FROM (SELECT DISTINCT o_custkey AS fk FROM orders WHERE o_orderstatus = 'F') f
         FULL JOIN (SELECT DISTINCT o_custkey AS pk FROM orders WHERE o_orderstatus = 'P') p
           ON fk = pk
         ORDER BY custkey""",
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)
         ORDER BY c_custkey""",
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)
         ORDER BY c_custkey""",
    "join_broadcast" ->
      """SELECT r_name, n_name,
         round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue,
         count(1) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "join_theta" ->
      """SELECT l_orderkey, l_linenumber, p_partkey, l_suppkey, l_quantity
         FROM lineitem JOIN part
           ON l_partkey = p_partkey AND l_extendedprice > p_retailprice * 25.0
         ORDER BY l_orderkey, l_linenumber, p_partkey, l_suppkey""",
    "join_range_bucket" ->
      """SELECT o.o_orderkey, o.o_orderdate, count(1) AS n_shipped
         FROM orders o JOIN lineitem l
           ON l.l_shipdate >= o.o_orderdate
          AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
         WHERE o.o_orderpriority = '1-URGENT'
           AND o.o_orderdate >= TIMESTAMP '1995-03-01'
           AND o.o_orderdate < TIMESTAMP '1995-04-01'
         GROUP BY o.o_orderkey, o.o_orderdate
         ORDER BY o.o_orderkey""",
    "join_cross" ->
      """SELECT r_name, c_mktsegment
         FROM (SELECT r_name FROM region) r
         CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) c
         ORDER BY r_name, c_mktsegment""",
    "join_asof" ->
      """SELECT event_id, user_id, coalesce(view_id, -1) AS prior_view_id FROM (
           SELECT p.event_id, p.user_id, v.event_id AS view_id,
                  row_number() OVER (PARTITION BY p.event_id
                    ORDER BY v.ts DESC NULLS LAST, v.event_id DESC NULLS LAST) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
             ON v.user_id = p.user_id AND v.ts < p.ts)
         WHERE rn = 1 ORDER BY event_id""",
    "join_asof_forward" ->
      """SELECT event_id, user_id, coalesce(view_id, -1) AS next_view_id FROM (
           SELECT p.event_id, p.user_id, v.event_id AS view_id,
                  row_number() OVER (PARTITION BY p.event_id
                    ORDER BY v.ts ASC NULLS LAST, v.event_id ASC NULLS LAST) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
             ON v.user_id = p.user_id AND v.ts > p.ts)
         WHERE rn = 1 ORDER BY event_id""",
    "join_asof_nearest" ->
      """SELECT event_id, user_id, coalesce(view_id, -1) AS nearest_view_id FROM (
           SELECT p.event_id, p.user_id, v.event_id AS view_id,
                  row_number() OVER (PARTITION BY p.event_id
                    ORDER BY abs(epoch_us(v.ts) - epoch_us(p.ts)) ASC NULLS LAST,
                             v.ts ASC NULLS LAST, v.event_id ASC NULLS LAST) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
             ON v.user_id = p.user_id)
         WHERE rn = 1 ORDER BY event_id""",
    "join_asof_tolerance" ->
      """SELECT event_id, user_id, coalesce(view_id, -1) AS prior_view_id FROM (
           SELECT p.event_id, p.user_id, v.event_id AS view_id,
                  row_number() OVER (PARTITION BY p.event_id
                    ORDER BY v.ts DESC NULLS LAST, v.event_id DESC NULLS LAST) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
             ON v.user_id = p.user_id AND v.ts < p.ts
            AND v.ts >= p.ts - INTERVAL 30 MINUTE)
         WHERE rn = 1 ORDER BY event_id""",
    "join_asof_native" ->
      """SELECT event_id, user_id, coalesce(view_id, -1) AS prior_view_id FROM (
           SELECT p.event_id, p.user_id, v.event_id AS view_id,
                  row_number() OVER (PARTITION BY p.event_id
                    ORDER BY v.ts DESC NULLS LAST, v.event_id DESC NULLS LAST) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
             ON v.user_id = p.user_id AND v.ts < p.ts)
         WHERE rn = 1 ORDER BY event_id""",
    "join_asof_native_forward" ->
      """SELECT event_id, user_id, coalesce(view_id, -1) AS next_view_id FROM (
           SELECT p.event_id, p.user_id, v.event_id AS view_id,
                  row_number() OVER (PARTITION BY p.event_id
                    ORDER BY v.ts ASC NULLS LAST, v.event_id ASC NULLS LAST) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
             ON v.user_id = p.user_id AND v.ts > p.ts)
         WHERE rn = 1 ORDER BY event_id""",
    "join_asof_native_nearest" ->
      """SELECT event_id, user_id, coalesce(view_id, -1) AS nearest_view_id FROM (
           SELECT p.event_id, p.user_id, v.event_id AS view_id,
                  row_number() OVER (PARTITION BY p.event_id
                    ORDER BY abs(epoch_us(v.ts) - epoch_us(p.ts)) ASC NULLS LAST,
                             v.ts ASC NULLS LAST, v.event_id ASC NULLS LAST) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
             ON v.user_id = p.user_id)
         WHERE rn = 1 ORDER BY event_id""",
    "join_asof_tolerance_native" ->
      """SELECT event_id, user_id, coalesce(view_id, -1) AS prior_view_id FROM (
           SELECT p.event_id, p.user_id, v.event_id AS view_id,
                  row_number() OVER (PARTITION BY p.event_id
                    ORDER BY v.ts DESC NULLS LAST, v.event_id DESC NULLS LAST) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
             ON v.user_id = p.user_id AND v.ts < p.ts
            AND v.ts >= p.ts - INTERVAL 30 MINUTE)
         WHERE rn = 1 ORDER BY event_id"""
  )
}
