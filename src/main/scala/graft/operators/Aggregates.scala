package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.functions.GeoMean

/** §2.D aggregation operators (SURVEY.md). The flagship `agg_group` is the
  * TPC-H-Q1-shaped pricing summary mandated by the reference's
  * transform-and-summarize stage (/root/reference/README.md:23-24).
  *
  * Scale notes: every query here is a single hash aggregation —
  * partial (map-side) + final after one shuffle on the grouping keys. At
  * 100 TB the cardinality of every grouping key used here (returnflag ×
  * linestatus, event_type, mktsegment) is tiny, so the shuffle moves only
  * the partially-aggregated state, not data.
  */
object Aggregates extends graft.Bank {

  /** Per-returnflag geometric mean of extendedprice through the typed
    * `Aggregator[Double, Buf, Double]` API (functions/GeoMean) — the one
    * implementation behind BOTH §2.J `udaf_typed` and §2.D
    * `agg_custom_udaf`. */
  private def customUdafFrame(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(GeoMean.geoMean(col("l_extendedprice")), 6).as("geo_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  val queries: Map[String, QFn] = Map(
    "agg_group" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // TPC-H-Q3-shaped shipping priority: segment-filtered customer ⋈
    // date-filtered orders ⋈ shipdate-filtered lineitem → per-order
    // revenue → top 10. Exercises the multi-join + agg + TakeOrdered
    // pipeline end to end.
    "q3_shipping" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1996-06-30").cast("timestamp"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1996-06-30").cast("timestamp"))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // KMV sketch SET ALGEBRA — the sketch family's missing piece after
    // approx-distinct (HLL), exact-mergeable (bitmap), and heavy hitters
    // (topk): K-minimum-values sketches support union AND intersection
    // estimates, because the kept minima are a uniform sample of the hash
    // space. Per event type: a bounded-state custom Aggregator
    // (functions/KmvSketch — ≤K longs per group, associative merge, so
    // only fixed-size arrays ever shuffle); then every type PAIR gets
    // distinct/union/intersection estimates from pure array expressions
    // over the ≤5-row sketch frame. The deterministic multiplicative hash
    // lets DuckDB replay sketch construction bit for bit — the ENTIRE
    // sketch lifecycle (build → merge → estimate) is value-oracled, which
    // neither the HLL nor any opaque-hash sketch can offer.
    "agg_kmv_setops" -> ((s, dir) => {
      import graft.functions.KmvSketch
      val kk = KmvSketch.K
      // daily-active-user sets over the first week: genuinely DIFFERENT
      // sets per day (each user is active ~80% of days), so union and
      // intersection estimates are non-trivial — per-event-type sets
      // would all coincide on this corpus
      val sk = events(s, dir)
        .filter(col("ts") < lit("2024-01-08").cast("timestamp"))
        .select(col("ts").cast("date").as("day"),
          // key masked to 2^31 BEFORE the Knuth multiply: (2^31−1)·2654435761
          // provably fits a signed 64-bit product, so Spark (silent wrap)
          // and DuckDB (overflow error) can never diverge at large key
          // domains; ids < 2^31 hash identically to the unmasked form
          pmod((col("user_id") % lit(2147483648L)) * lit(2654435761L),
            lit(4294967296L)).as("h"))
        .groupBy(col("day"))
        .agg(KmvSketch.kmv(col("h")).as("sk"))
      def est(arr: Column): Column =
        when(size(arr) < kk, size(arr).cast("double"))
          .otherwise(lit((kk - 1).toDouble * 4294967296.0) /
            element_at(arr, kk).cast("double"))
      val a = sk.select(col("day").as("d1"), col("sk").as("ska"))
      val b = sk.select(col("day").as("d2"), col("sk").as("skb"))
      a.join(b, col("d1") < col("d2")) // pairwise over a ≤7-row sketch frame
        .withColumn("u", slice(array_sort(array_union(col("ska"), col("skb"))), 1, kk))
        .withColumn("est_union", round(est(col("u")), 6))
        .withColumn("n_common", size(filter(col("u"),
          x => array_contains(col("ska"), x) && array_contains(col("skb"), x))))
        .withColumn("est_inter", round(
          col("n_common").cast("double") / size(col("u")) * col("est_union"), 6))
        .select(col("d1"), col("d2"),
          round(est(col("ska")), 6).as("est_a"),
          round(est(col("skb")), 6).as("est_b"),
          col("est_union"), col("est_inter"))
        .orderBy(col("d1"), col("d2"))
    }),

    // TPC-H Q5 shape — the 6-way star join with the "local supplier"
    // twist (c_nationkey = s_nationkey correlates two fact-side foreign
    // keys, so it can't be pushed to either scan). Plan at scale: region
    // and nation are broadcast literals, supplier auto-broadcasts, and
    // the two fact-sized shuffles (customer⋈orders on custkey, then
    // ⋈lineitem on orderkey) carry date-pruned orders only — the
    // o_orderdate range filter reaches the scan before anything joins.
    "q5_local_supplier" -> ((s, dir) => {
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val l = t(s, dir, "lineitem")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q6 — the forecast-revenue-change scan: ONE pass over
    // lineitem, zero joins, the whole predicate trio pushed to the
    // parquet scan (PushedFilters carries shipdate + discount + quantity;
    // at 100 TB this is the purest min-max row-group pruning exhibit in
    // the suite). Discounts land on an exact 0.01 grid in the generator,
    // so the BETWEEN bounds compare the same doubles on both engines.
    "q6_forecast_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))),

    // TPC-H Q7 — volume shipping between two trading nations: the
    // 2-row filtered nation dims broadcast and prune supplier/customer
    // BEFORE the fact joins (each side keeps ~2/25 of its rows), the
    // cross-pair filter keeps the two asymmetric directions, and the
    // year rollup is a 2×2×|years| result. Fact shuffles only on its
    // join keys — no nation-grain exchange anywhere.
    "q7_volume_shipping" -> ((s, dir) => {
      val two = Seq("NATION_1", "NATION_2")
      val n1 = t(s, dir, "nation").filter(col("n_name").isin(two: _*))
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").filter(col("n_name").isin(two: _*))
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      l.join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("snk"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n2), col("c_nationkey") === col("cnk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // TPC-H Q8 — national market share: NATION_1's slice of AMERICA's
    // ECONOMY-part order volume per year. The part filter rides a plain
    // dimension join (part SCALES with SF — never force-broadcast it);
    // nation/region dims broadcast. Share = ratio of two exact decimal
    // sums, one double division at the end (the dsum discipline).
    "q8_market_share" -> ((s, dir) => {
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val p = t(s, dir, "part").filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val nS = t(s, dir, "nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      t(s, dir, "lineitem")
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")
            .filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nS), col("s_nationkey") === col("snk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(
          sum(dec(when(col("supp_nation") === "NATION_1", rev).otherwise(0)))
            .cast("double") /
            sum(dec(rev)).cast("double"), 6).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q10 — returned-item reporting: which customers returned the
    // most revenue in a quarter (the churn-risk / fraud triage list).
    // Quarter-filtered orders join the R-flagged lineitem slice (both
    // predicates pushed to their scans), customer+nation attach, top-20
    // by exact-rounded revenue lowers to TakeOrderedAndProject.
    "q10_returned_items" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q14 — promotion effect: PROMO parts' share of a month's
    // discounted revenue. One month of lineitem (scan-pruned) joins the
    // part dim (plain join — part scales with SF); the share is a ratio
    // of two exact decimal sums, one double division (q8's discipline).
    "q14_promo_effect" -> ((s, dir) => {
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          sum(dec(when(col("p_type") === "PROMO", rev).otherwise(0)))
            .cast("double") /
          sum(dec(rev)).cast("double"), 6).as("promo_revenue"))
    }),

    // TPC-H Q4 — order-priority checking: count a quarter's orders that
    // had ANY line shipped after the order date (the generated schema has
    // no commit/receipt dates; shipped-after-order is the late predicate).
    // Written as the natural correlated EXISTS so Catalyst's
    // RewritePredicateSubquery lowers it to a LEFT SEMI join — the quarter
    // filter pushes to the orders scan BEFORE the semi probe, the
    // correlated non-equi conjunct (l_shipdate > o_orderdate) rides the
    // semi join condition, and no subquery result ever materializes
    // (PlanSpec pins the lowering). 5-row result at any scale.
    "q4_order_priority" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("q4_orders")
      t(s, dir, "lineitem").createOrReplaceTempView("q4_lineitem")
      s.sql("""
        SELECT o_orderpriority, count(1) AS order_count
        FROM q4_orders
        WHERE o_orderdate >= CAST('1996-01-01' AS TIMESTAMP)
          AND o_orderdate < CAST('1996-04-01' AS TIMESTAMP)
          AND EXISTS (SELECT 1 FROM q4_lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
      """)
    }),

    // TPC-H Q2 — minimum-cost supplier: for each small ECONOMY part, the
    // supplier(s) selling it at the part's GLOBAL minimum price (lineitem
    // is the part↔supplier bridge; the generated schema has no partsupp).
    // The correlated scalar min subquery is the decorrelation stress the
    // registry never touched: Catalyst rewrites it to a per-part min
    // aggregate joined back on (partkey, price) — part's type/size filters
    // prune BEFORE the join, and the inner min aggregates lineitem ONCE,
    // not per outer row. Ordered by (acctbal desc, part, supplier) —
    // boundary ties are exact duplicate rows, so the LIMIT cut is stable.
    "q2_min_cost_supplier" -> ((s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("q2_part")
      t(s, dir, "lineitem").createOrReplaceTempView("q2_lineitem")
      t(s, dir, "supplier").createOrReplaceTempView("q2_supplier")
      s.sql("""
        SELECT s_acctbal, s_name, p_partkey, p_brand, l_extendedprice AS min_price
        FROM q2_part, q2_lineitem, q2_supplier
        WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          AND p_type = 'ECONOMY' AND p_size <= 10
          AND l_extendedprice = (SELECT min(l2.l_extendedprice)
                                 FROM q2_lineitem l2
                                 WHERE l2.l_partkey = p_partkey)
        ORDER BY s_acctbal DESC, p_partkey, s_suppkey LIMIT 100
      """)
    }),

    // TPC-H Q18 — large-volume customers: orders whose total quantity
    // clears a threshold, with their customers. The IN over a grouped
    // HAVING subquery lowers to a semi join against the aggregated
    // order-quantity frame (aggregate once, THEN semi-probe — never a
    // per-row re-aggregation); quantities are integers in doubles, so the
    // sums are exact without decimal gridding. (o_totalprice desc,
    // o_orderkey) is a total order — the LIMIT cut is deterministic.
    "q18_large_volume" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("q18_customer")
      t(s, dir, "orders").createOrReplaceTempView("q18_orders")
      // the classic Q18 text references lineitem three times (IN agg +
      // detail join + the probe's partial agg) — pin the projected fact
      // once so all passes read the InMemoryRelation (the ≥3-scan lint's
      // plan-level fix; SQL can't persist a subtree from inside the text)
      persistShared("q18_li", t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity")))
        .createOrReplaceTempView("q18_lineitem")
      s.sql("""
        SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
               sum(l_quantity) AS total_qty
        FROM q18_customer, q18_orders, q18_lineitem
        WHERE o_orderkey IN (SELECT l_orderkey FROM q18_lineitem
                             GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
          AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
      """)
    }),

    // TPC-H Q21 — suppliers who kept the order waiting: per supplier, the
    // F-order lines shipped after the order date in MULTI-supplier orders
    // where NO other supplier shipped later (the last shipper — the
    // blame-assignment semantics of the original's commit/receipt chain,
    // re-expressed on the generated schema). EXISTS + NOT EXISTS with a
    // correlated NON-EQUI conjunct (l3.l_shipdate > l1.l_shipdate) is the
    // anti-join chain the planner never saw from this registry: both lower
    // to one semi and one anti join on l_orderkey with the extra
    // predicates riding the join condition — three passes over the
    // same-key-partitioned lineitem, zero subquery materialization.
    "q21_suppliers_waiting" -> ((s, dir) => {
      t(s, dir, "supplier").createOrReplaceTempView("q21_supplier")
      // l1 + the EXISTS probe + the NOT EXISTS probe are three passes over
      // lineitem by definition — pin the 3-column projection once so the
      // semi/anti chain probes the InMemoryRelation instead of re-scanning
      // the fact per probe (q18's discipline)
      persistShared("q21_li", t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate")))
        .createOrReplaceTempView("q21_lineitem")
      t(s, dir, "orders").createOrReplaceTempView("q21_orders")
      s.sql("""
        SELECT s_name, count(1) AS numwait
        FROM q21_supplier, q21_lineitem l1, q21_orders
        WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F' AND l1.l_shipdate > o_orderdate
          AND EXISTS (SELECT 1 FROM q21_lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM q21_lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > l1.l_shipdate)
        GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 50
      """)
    }),

    // TPC-H Q13 — customer order-count distribution: how many customers
    // placed 0, 1, 2… non-urgent orders. The LEFT OUTER join with the
    // filter ON THE JOIN CONDITION (not WHERE — that would drop the
    // zero-order customers, the classic count-bug) feeds two stacked
    // aggregations, each key tiny (customer-grain, then count-grain);
    // count(o_orderkey) counts only matched rows by SQL null-skipping.
    "q13_customer_distribution" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("q13_customer")
      t(s, dir, "orders").createOrReplaceTempView("q13_orders")
      s.sql("""
        SELECT c_count, count(1) AS custdist
        FROM (SELECT c_custkey, count(o_orderkey) AS c_count
              FROM q13_customer LEFT OUTER JOIN q13_orders
                ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey) c_orders
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC
      """)
    }),

    // TPC-H Q15 — top supplier by quarterly revenue: the revenue view is
    // referenced TWICE (row source + scalar max), and a CTE would inline
    // into two full fact aggregations (Catalyst plans the scalar as its
    // own subquery subtree — no exchange reuse across it; verified on the
    // executed plan). The supplier-grain revenue frame is therefore
    // materialized ONCE via persistShared and both references read the
    // InMemoryRelation — at 100 TB, one fact pass instead of two. Revenue
    // is 6-dp-gridded BEFORE the max/equality so the tie compare is
    // between identical doubles on both engines.
    "q15_top_supplier" -> ((s, dir) => {
      t(s, dir, "supplier").createOrReplaceTempView("q15_supplier")
      persistShared("q15_rev", t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("total_revenue")))
        .createOrReplaceTempView("q15_revenue")
      s.sql("""
        SELECT s_suppkey, s_name, total_revenue
        FROM q15_supplier, q15_revenue
        WHERE s_suppkey = supplier_no
          AND total_revenue = (SELECT max(total_revenue) FROM q15_revenue)
        ORDER BY s_suppkey
      """)
    }),

    // TPC-H Q16 — supplier diversity per part bucket, excluding flagged
    // suppliers: NOT IN over a NON-nullable key column plans a plain anti
    // join (contrast sub_not_in's null-aware path); count(DISTINCT
    // l_suppkey) after the anti probe is the two-shuffle distinct-agg
    // Catalyst expands (partial distinct on (grp, supp), then count).
    "q16_supplier_cnt" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q16_lineitem")
      t(s, dir, "part").createOrReplaceTempView("q16_part")
      t(s, dir, "supplier").createOrReplaceTempView("q16_supplier")
      s.sql("""
        SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM q16_lineitem JOIN q16_part ON p_partkey = l_partkey
        WHERE p_type <> 'PROMO' AND p_size IN (1,5,10,15,20,25,30,35)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM q16_supplier
                                WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
      """)
    }),

    // TPC-H Q17 — small-quantity revenue: lines of one brand bought below
    // 20% of the part's average order quantity. The correlated AVG
    // decorrelates into a per-part aggregate joined back (aggregate
    // lineitem ONCE); quantities are integers-in-doubles so the avg is a
    // deterministic exact-sum/count division and the 0.2× threshold
    // compare is identical on both engines.
    "q17_small_qty_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q17_lineitem")
      t(s, dir, "part").createOrReplaceTempView("q17_part")
      s.sql("""
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                 AS DOUBLE) / 7.0, 6) AS avg_yearly
        FROM q17_lineitem, q17_part
        WHERE p_partkey = l_partkey AND p_brand = 'Brand#11'
          AND l_quantity < (SELECT CAST(0.2 AS DOUBLE) * avg(l2.l_quantity)
                            FROM q17_lineitem l2
                            WHERE l2.l_partkey = p_partkey)
      """)
    }),

    // TPC-H Q20 — dominant suppliers: suppliers shipping >30% of some
    // ECONOMY part's 1996 volume. A correlated scalar inside the HAVING
    // of an IN subquery that itself nests an IN — the deepest
    // decorrelation chain in the registry: Catalyst lowers the part IN to
    // a semi join, the per-(supplier, part) HAVING threshold to a join
    // against the once-aggregated per-part totals, and the outer IN to a
    // final semi join. Integer quantity sums keep the 0.3× compare exact.
    "q20_excess_suppliers" -> ((s, dir) => {
      t(s, dir, "supplier").createOrReplaceTempView("q20_supplier")
      t(s, dir, "lineitem").createOrReplaceTempView("q20_lineitem")
      t(s, dir, "part").createOrReplaceTempView("q20_part")
      s.sql("""
        SELECT s_name, round(CAST(s_acctbal AS DOUBLE), 6) AS bal
        FROM q20_supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM q20_lineitem l1
          WHERE l1.l_partkey IN (SELECT p_partkey FROM q20_part
                                 WHERE p_type = 'ECONOMY')
            AND l1.l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
            AND l1.l_shipdate < CAST('1997-01-01' AS TIMESTAMP)
          GROUP BY l1.l_suppkey, l1.l_partkey
          HAVING sum(l1.l_quantity) > CAST(0.3 AS DOUBLE) * (
            SELECT sum(l2.l_quantity) FROM q20_lineitem l2
            WHERE l2.l_partkey = l1.l_partkey
              AND l2.l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
              AND l2.l_shipdate < CAST('1997-01-01' AS TIMESTAMP)))
        ORDER BY s_name
      """)
    }),

    // TPC-H Q22 — dormant high-balance customers: above the positive-
    // balance average AND no urgent order since 1997. One uncorrelated
    // scalar (the decimal-exact average — plain avg(double) would be
    // partial-sum-order dependent) plus a correlated NOT EXISTS lowered
    // to an anti join with the date conjunct riding the condition.
    "q22_dormant_customers" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("q22_customer")
      t(s, dir, "orders").createOrReplaceTempView("q22_orders")
      s.sql("""
        SELECT c_mktsegment, count(1) AS numcust,
               round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 6)
                 AS totacctbal
        FROM q22_customer
        WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)))
                             AS DOUBLE) / count(1)
                           FROM q22_customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM q22_orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT'
                            AND o_orderdate >= CAST('1997-01-01' AS TIMESTAMP))
        GROUP BY c_mktsegment ORDER BY c_mktsegment
      """)
    }),

    // TPC-H Q11 — important part values: parts whose AMERICA-supplied
    // revenue clears a fraction of the regional total. The classic text
    // repeats the whole 4-table join+aggregate in the HAVING's scalar —
    // TWO fact passes; instead the per-part exact-decimal value frame is
    // materialized ONCE (q15's discipline) and the threshold scalar sums
    // the SAME cached frame (decimal addition is exact, so the sum of
    // per-part sums equals the oracle's grand sum to the bit); both sides
    // render to doubles before the 0.1% compare, cutting identically
    // cross-engine.
    "q11_important_values" -> ((s, dir) => {
      val vf = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")
            .filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(dec(col("l_extendedprice"))).as("vdec"))
      persistShared("q11_vf", vf).createOrReplaceTempView("q11_values")
      s.sql("""
        SELECT l_partkey, round(CAST(vdec AS DOUBLE), 6) AS value
        FROM q11_values
        WHERE CAST(vdec AS DOUBLE) > (
          SELECT CAST(0.001 AS DOUBLE) * CAST(sum(vdec) AS DOUBLE)
          FROM q11_values)
        ORDER BY value DESC, l_partkey
      """)
    }),

    // TPC-H Q9 — product-type profit by nation and year (the generated
    // schema has no partsupp, so cost = 60% of the part's retail price —
    // the same fixed-margin basis per line): the widget-name LIKE prunes
    // part before the fact join, profit is ONE mirrored double tree
    // decimal-gridded per row before the order-free sum, and the rollup
    // grain (nation × year) is tiny at any scale.
    "q9_product_profit" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q9_lineitem")
      t(s, dir, "supplier").createOrReplaceTempView("q9_supplier")
      t(s, dir, "nation").createOrReplaceTempView("q9_nation")
      t(s, dir, "orders").createOrReplaceTempView("q9_orders")
      t(s, dir, "part").createOrReplaceTempView("q9_part")
      s.sql("""
        SELECT n_name AS nation, year(o_orderdate) AS o_year,
               round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                 - CAST(0.6 AS DOUBLE) * p_retailprice * l_quantity
                 AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_profit
        FROM q9_lineitem, q9_supplier, q9_nation, q9_orders, q9_part
        WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND l_orderkey = o_orderkey AND l_partkey = p_partkey
          AND p_name LIKE '%widget%'
        GROUP BY n_name, year(o_orderdate)
        ORDER BY nation, o_year
      """)
    }),

    // TPC-H Q12 — late-shipment priority split (the generated schema has
    // no shipmode/commit/receipt dates: "late" = shipped >90 days after
    // the order, split per returnflag): one fact join with the interval
    // predicate, two conditional counts per group — classic shipmode
    // report re-expressed on the available columns.
    "q12_late_priority" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("q12_orders")
      t(s, dir, "lineitem").createOrReplaceTempView("q12_lineitem")
      s.sql("""
        SELECT l_returnflag,
               count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 1 END) AS high_line_count,
               count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                   THEN 1 END) AS low_line_count
        FROM q12_orders JOIN q12_lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        GROUP BY l_returnflag ORDER BY l_returnflag
      """)
    }),

    // TPC-H Q19 — disjunctive discounted revenue: three OR'd
    // (brand, size-range, quantity-range) clauses. The pushdown stress:
    // Catalyst extracts the per-relation residue of the DNF — an OR of
    // brand/size conjuncts reaches the part SCAN and an OR of quantity
    // ranges reaches the lineitem SCAN (plan-pinned), so both sides prune
    // before the join instead of filtering after it — at 100 TB the
    // difference between scanning 3 brands' rows and scanning the corpus.
    "q19_disjunctive_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q19_lineitem")
      t(s, dir, "part").createOrReplaceTempView("q19_part")
      s.sql("""
        SELECT round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                 AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        FROM q19_lineitem JOIN q19_part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 21)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 20 AND 40)
      """)
    }),

    // ROLLUP with GROUPING()/GROUPING_ID() — the disambiguation surface
    // every BI layer needs on super-aggregate frames: a NULL group value
    // can mean "subtotal row" OR "the data really was NULL"; grouping()
    // is the bit that tells them apart, grouping_id() the packed level
    // key a report pivots on. Pure hash-agg Expand, tiny result; both
    // engines cast the flags to INT (Spark emits tinyint/bigint natively,
    // DuckDB its own widths — INT is the portable meet).
    "agg_grouping_id" -> ((s, dir) => {
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio"),
          grouping_id().cast("int").as("gid"))
        .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))
    }),

    // HAVING-gated aggregation (TPC-H Q18 shape): orders whose total
    // quantity exceeds a threshold.
    "agg_having" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_lines"))
        .filter(col("sum_qty") > 150)
        .orderBy(col("l_orderkey"))
    }),

    // correlated scalar subquery (Catalyst decorrelates it into a join):
    // customers above their own segment's average balance.
    "sub_scalar" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("sub_customer")
      s.sql("""
        SELECT c_custkey, c_mktsegment, round(CAST(c_acctbal AS DOUBLE), 6) AS bal
        FROM sub_customer o
        WHERE c_acctbal > (
          SELECT CAST(sum(CAST(i.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(1)
          FROM sub_customer i WHERE i.c_mktsegment = o.c_mktsegment)
        ORDER BY c_custkey
      """)
    }),

    // correlated EXISTS subquery: RewritePredicateSubquery decorrelates it
    // into a LEFT SEMI hash join — the user writes the natural predicate
    // form, the engine plans the same join `join_semi` declares directly.
    "sub_exists" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("se_customer")
      t(s, dir, "orders").createOrReplaceTempView("se_orders")
      s.sql("""
        SELECT c_custkey, round(CAST(c_acctbal AS DOUBLE), 6) AS bal
        FROM se_customer c
        WHERE EXISTS (
          SELECT 1 FROM se_orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        ORDER BY c_custkey
      """)
    }),

    // NOT IN over a NULLABLE subquery column: SQL's three-valued NOT IN
    // ("any NULL in the set empties the result") cannot be planned as a
    // plain anti join — Spark plans the single-column NULL-AWARE anti join
    // (broadcast hash join with isNullAware=true), which checks the
    // null-exists case against the broadcast set without a nested loop.
    // The CASE keeps the inner column nullable BY TYPE (o_totalprice < 0
    // never fires in data) so the planner must take the null-aware path;
    // the unit spec pins the plan.
    "sub_not_in" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("sn_customer")
      t(s, dir, "orders").createOrReplaceTempView("sn_orders")
      s.sql("""
        SELECT c_custkey FROM sn_customer
        WHERE c_custkey NOT IN (
          SELECT CASE WHEN o_totalprice < 0 THEN NULL ELSE o_custkey END
          FROM sn_orders WHERE o_orderstatus = 'F')
        ORDER BY c_custkey
      """)
    }),

    "agg_count_distinct" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))
    }),

    // no-oracle: HLL sketch values differ engine-to-engine; the scalatest
    // spec asserts the estimate is within ±5% of the exact count.
    "agg_approx_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // no-oracle: DataSketches HLL binary images are engine-specific. The
    // point of this query is MERGEABILITY — the property that makes
    // sketches the 100 TB distinct-count answer: per-nation sketches are
    // built in one pass (partial-aggregatable, shuffle carries fixed-size
    // sketch bytes, never member sets), then UNIONED up to regions WITHOUT
    // touching the raw data again. That two-level rollup (build once,
    // re-merge at any coarser grain) is exactly how pre-aggregated sketch
    // tables amortize distinct-count queries over a petabyte fact table.
    // The scalatest spec asserts each region estimate is within ±5% of the
    // exact distinct count.
    "agg_hll_merge" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      val perNation = c.groupBy(col("c_nationkey"))
        .agg(hll_sketch_agg(col("c_custkey"), lit(12)).as("sk"))
      perNation
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_customers"))
        .orderBy(col("n_regionkey"))
    }),

    // EXACT mergeable distinct counts — the deterministic counterpart to
    // agg_hll_merge for when the pipeline can't tolerate sketch error:
    // ids split into fixed 32k-wide buckets, each bucket's membership a
    // fixed-size bitmap (bitmap_construct_agg), partial-aggregatable and
    // re-mergeable to any coarser grain with bitmap_or_agg — the shuffle
    // carries bitmap BYTES, never member sets, and per-(group, bucket)
    // state is bounded at 4 KB regardless of fact cardinality. Unlike HLL
    // the result is exact, so this one IS DuckDB-oracled against
    // count(DISTINCT). The id-space-bounded bitmap vs error-bounded sketch
    // trade-off is the standard production choice at 100 TB.
    "agg_bitmap_distinct" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      val perBucket = c
        .groupBy(col("c_nationkey"), expr("bitmap_bucket_number(c_custkey)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(c_custkey))").as("bm"))
      perBucket
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey"), col("bkt"))
        .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("cnt"))
        .groupBy(col("n_regionkey"))
        .agg(sum(col("cnt")).as("n_customers"))
        .orderBy(col("n_regionkey"))
    }),

    // Mergeable QUANTILE-sketch rollup — the percentile sibling of
    // agg_hll_merge / agg_bitmap_distinct: per-nation PARTIAL sketches
    // (fixed-grid histograms, 250-dollar buckets over integer cents) are
    // built once at fine grain, then re-merged at region grain by pure
    // addition — the raw fact is never touched again. This is the
    // KLL/t-digest pre-aggregated-sketch-table pattern that amortizes
    // quantile queries over a petabyte fact; the deterministic fixed-grid
    // variant trades KLL's rank-error bound for a VALUE-error bound (one
    // bucket width) and, unlike KLL's randomized compactors, is
    // bit-stable — so the whole rollup carries a DuckDB oracle, not just
    // a unit test. Quantile rule: smallest bucket whose cumulative count
    // reaches ceil(q·n), tested in cross-multiplied INTEGER form
    // (cum·k ≥ n·j — no float touches the rank rule); the reported
    // estimate is that bucket's lower edge. Bucketing runs on exact
    // cents with a +100000 offset so the integer division never sees a
    // negative operand (Spark `div` truncates, DuckDB `//` floors — they
    // agree only on non-negatives).
    "agg_quantile_merge" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_regionkey"))
      val perNation = c
        .select(col("c_nationkey"),
          expr("(CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000) div 25000").as("bkt"))
        .groupBy(col("c_nationkey"), col("bkt")).agg(count(lit(1)).as("cnt"))
      val merged = perNation
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey"), col("bkt")).agg(sum(col("cnt")).as("cnt"))
      val wCum = Window.partitionBy(col("n_regionkey")).orderBy(col("bkt"))
      val wAll = Window.partitionBy(col("n_regionkey"))
      merged
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .groupBy(col("n_regionkey"))
        .agg(max(col("n")).as("n_customers"),
          (min(when(col("cum") * 2 >= col("n"), col("bkt"))) * 250 - 1000)
            .cast("double").as("p50_est"),
          (min(when(col("cum") * 10 >= col("n") * 9, col("bkt"))) * 250 - 1000)
            .cast("double").as("p90_est"),
          (min(when(col("cum") * 100 >= col("n") * 99, col("bkt"))) * 250 - 1000)
            .cast("double").as("p99_est"))
        .orderBy(col("n_regionkey"))
    }),

    // third member of the sketch family (HLL = approx distinct, bitmap =
    // exact distinct, this = HEAVY HITTERS): the frequent-items sketch
    // behind approx_top_k, demonstrated through its full production
    // lifecycle — ACCUMULATE per-language partial sketches, COMBINE them
    // into one corpus sketch (fixed-size state moves, never token rows),
    // ESTIMATE the top-k. At real vocabulary sizes the counts are
    // error-bounded with ~KB state; at this fixture the capacity (1024)
    // exceeds the 31-token vocabulary, making the sketch EXACT — which is
    // what lets this query carry a DuckDB oracle against the true top-k.
    // k=9 because the rank-9/10 boundary is untied at every fixture scale
    // (a tied boundary makes any top-k's SET engine-ambiguous).
    "agg_approx_topk" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"),
          explode(expr("filter(split(lower(text), ' '), x -> x <> '')")).as("token"))
        .createOrReplaceTempView("atk_tokens")
      s.sql("""
        WITH per_lang AS (
          SELECT lang, approx_top_k_accumulate(token, 1024) AS sk
          FROM atk_tokens GROUP BY lang),
        merged AS (SELECT approx_top_k_combine(sk, 1024) AS sk FROM per_lang),
        est AS (SELECT explode(approx_top_k_estimate(sk, 9)) AS it FROM merged)
        SELECT it.item AS token, it.count AS cnt FROM est
        ORDER BY cnt DESC, token
      """)
    }),

    // Fifth member of the sketch family (HLL ≈ distinct, bitmap = exact
    // distinct, topk = heavy hitters, KMV = set algebra, this = POINT
    // FREQUENCY): a count-min sketch expressed as PURE relational algebra,
    // no UDAF needed — the d×w counter matrix IS a (row, bucket, count)
    // frame. Build: each key explodes to d (row, bucket) cells via the
    // engine's deterministic multiplicative hashes (public Knuth/xxHash
    // prime constants, NOT an opaque hash — exactly so DuckDB can replay
    // the sketch bit for bit); one hash agg per event_type = the PARTIAL
    // sketches; merging partials is an element-wise ADD, i.e. a plain
    // groupBy-sum — the mergeability that makes CMS a 100 TB structure
    // falls out of the algebra instead of custom merge code. State is
    // hard-bounded at d·w cells per group regardless of key cardinality.
    // Probe: est(u) = min over rows of cell(j, h_j(u)) — CMS guarantees
    // est ≥ true (one-sided error), which the spec asserts. The probe set
    // (top-10 users by true count, tiebreak user_id) keeps the output
    // deterministic at every SF.
    "agg_countmin" -> ((s, dir) => {
      val w = 256
      val ms = Seq(2654435761L, 2246822519L, 3266489917L)
      val e = events(s, dir).select(col("event_type"), col("user_id").as("u"))
      val cells = e.select(col("event_type"), col("u"),
          posexplode(array(ms.map(lit(_)): _*)))
        .select(col("event_type"), col("u"), col("pos").as("j"),
          // mask-then-multiply: (2^31−1)·3266489917 < 2^63, so the product
          // cannot overflow Long in Spark nor raise in DuckDB's BIGINT
          ((col("u") % lit(2147483648L)) * col("col")
            % lit(4294967296L) % lit(w.toLong)).as("bkt"))
      val partial = cells.groupBy(col("event_type"), col("j"), col("bkt"))
        .agg(count(lit(1)).as("c"))
      val sketch = partial.groupBy(col("j"), col("bkt"))
        .agg(sum(col("c")).as("c"))
      val truth = e.groupBy(col("u")).agg(count(lit(1)).as("true_n"))
        .orderBy(col("true_n").desc, col("u")).limit(10)
      truth.select(col("u"), col("true_n"),
          posexplode(array(ms.map(lit(_)): _*)))
        .select(col("u"), col("true_n"), col("pos").as("j"),
          ((col("u") % lit(2147483648L)) * col("col")
            % lit(4294967296L) % lit(w.toLong)).as("bkt"))
        .join(broadcast(sketch), Seq("j", "bkt"))
        .groupBy(col("u"), col("true_n"))
        .agg(min(col("c")).as("cms_est"))
        .select(col("u").as("user_id"), col("true_n"), col("cms_est"))
        .orderBy(col("true_n").desc, col("user_id"))
    }),

    // Weighted median (revenue-weighted quantity): the smallest value
    // whose cumulative weight reaches half the group's total — the
    // "median order size by dollar volume" statistic plain medians
    // misstate under heterogeneous weights. EXACT by construction: the
    // value domain collapses first (one hash agg to ≤50 rows per group),
    // weights are DECIMAL sums, and the defining inequality
    // 2·cum ≥ tot is evaluated in decimal integer arithmetic — no
    // interpolation, no float compare, so the DuckDB twin matches bit
    // for bit. Windows run on the collapsed (group, value) grain —
    // bounded by the value domain, not the fact cardinality.
    "agg_weighted_quantile" -> ((s, dir) => {
      val g = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("rf"), col("l_quantity").as("qty"))
        .agg(sum(dec(col("l_extendedprice"))).as("w"))
      val wcum = Window.partitionBy(col("rf")).orderBy(col("qty"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wtot = Window.partitionBy(col("rf"))
      g.withColumn("cum", sum(col("w")).over(wcum))
        .withColumn("tot", sum(col("w")).over(wtot))
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy(col("rf"))
        .agg(min(col("qty")).as("wmedian_qty"),
          round(max(col("tot")).cast("double"), 6).as("total_weight"))
        .orderBy(col("rf"))
    }),

    // Distribution-shape profiling: Shannon entropy + Gini impurity of the
    // priority mix within each order status — the two standard "how
    // concentrated is this categorical column" measures behind drift
    // monitors and split criteria. Shape: one fact-sized hash agg to the
    // |status|×|priority| contingency table, then everything runs on that
    // bounded grain. The per-term p·ln p and p² pass through the engine's
    // dec() cast BEFORE summing (text_unigram_ppl's discipline), so the
    // sums are order-independent decimal arithmetic and match DuckDB
    // regardless of partial-agg ordering.
    "agg_entropy_gini" -> ((s, dir) => {
      val c = t(s, dir, "orders")
        .groupBy(col("o_orderstatus").as("st"), col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("c"))
      val tot = c.groupBy(col("st")).agg(sum(col("c")).as("tot"))
      c.join(broadcast(tot), Seq("st"))
        .withColumn("p", col("c").cast("double") / col("tot"))
        .groupBy(col("st"))
        .agg(max(col("tot")).as("n"),
          round(-sum(dec(col("p") * log(col("p")))).cast("double"), 6).as("entropy"),
          round(lit(1.0) - sum(dec(col("p") * col("p"))).cast("double"), 6).as("gini"))
        .orderBy(col("st"))
    }),

    // Higher-moment shape statistics: per-group skewness and excess
    // kurtosis, the standard "is this distribution normal-ish" screen a
    // profiler runs next to mean/σ (agg_stats stops at the 2nd moment).
    // Two passes, both scale-shaped: pass 1 is the decimal-exact μ/σ
    // aggregation (group-count-sized, broadcast back like anom_zscore);
    // pass 2 standardizes each row and sums z³/z⁴ — and the EXACTNESS
    // trick is that z is rounded to the 6-dp grid and cast to
    // DECIMAL(9,6) first, so its powers are exact decimals (scales 18
    // and 24, inside both engines' 38-digit multiply; |z| < √n ≈ 245
    // always fits 3 integer digits) and their sums are order-independent
    // — parallel partial aggregation cannot perturb the statistic. The
    // 100 TB form is identical: two fact scans, zero fact shuffles.
    "agg_skew_kurtosis" -> ((s, dir) => {
      val e = events(s, dir)
      val stats = e.groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          sum(dec(col("value"))).as("sv"),
          sum(dec(col("value")) * dec(col("value"))).as("svv"))
        .select(col("event_type"),
          (col("sv").cast("double") / col("n")).as("mu"),
          sqrt(greatest((col("svv").cast("double") - col("sv").cast("double") *
            col("sv").cast("double") / col("n")) / col("n"), lit(0.0))).as("sigma"))
        .filter(col("sigma") > 0)
      val z = e.join(broadcast(stats), Seq("event_type"))
        .withColumn("z6",
          round((col("value") - col("mu")) / col("sigma"), 6).cast(DecimalType(9, 6)))
        .withColumn("z2", (col("z6") * col("z6")).cast(DecimalType(17, 12)))
      z.groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          round(max(col("mu")), 6).as("mean"),
          round(max(col("sigma")), 6).as("stddev"),
          round(sum(col("z2") * col("z6")).cast("double") / count(lit(1)), 6)
            .as("skewness"),
          round(sum(col("z2") * col("z2")).cast("double") / count(lit(1)) - 3, 6)
            .as("kurtosis"))
        .orderBy(col("event_type"))
    }),

    "agg_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy(col("rf"), col("ls"))
    }),

    "agg_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy(col("rf"), col("ls"))
    }),

    "agg_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("gs_lineitem")
      s.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_qty,
               count(1) AS n
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY rf, ls
      """)
    }),

    "agg_filtered" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          dsum(when(col("l_discount") > 0.05, col("l_extendedprice"))).as("disc_rev"),
          count(when(col("l_quantity") > 25, lit(1))).as("n_bulky"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    "agg_collect" -> ((s, dir) => {
      // the collected set is serialized at the query boundary (the driver's
      // pandas compare cannot hash ndarray cells); the typed-array form is
      // covered in the unit suite.
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    "agg_pivot" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice")))
        .orderBy(col("c_mktsegment"))
    }),

    // exact interpolated quantiles (sort-based; the sf-scale gold answer)
    "agg_quantiles" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.5D)"), 6).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9D)"), 6).as("p90"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // Discrete percentiles — the exact VALUE at rank ⌈p·n⌉, the
    // definition auditors want when the answer must be an observed row
    // (no interpolation to explain) next to agg_quantiles' type-7
    // surface. Rank arithmetic is PURE INTEGER ((p·n + 99) div 100 —
    // computing ⌈0.9·n⌉ in binary doubles rounds UP at exact multiples,
    // the classic ceil trap); one rank window per group, conditional
    // max picks (value at a rank is deterministic under ties — the
    // theil_sen discipline).
    "agg_percentile_disc" -> ((s, dir) => {
      val wP = Window.partitionBy(col("fl"))
      val r = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("fl"), col("l_extendedprice").as("v"))
        .withColumn("rn", row_number().over(wP.orderBy(col("v"))))
        .withColumn("n", count(lit(1)).over(wP))
      r.groupBy(col("fl"))
        .agg(max(col("n")).as("n"),
          max(when(col("rn") === expr("(25 * n + 99) div 100"), col("v")))
            .as("p25_disc"),
          max(when(col("rn") === expr("(50 * n + 99) div 100"), col("v")))
            .as("p50_disc"),
          max(when(col("rn") === expr("(75 * n + 99) div 100"), col("v")))
            .as("p75_disc"),
          max(when(col("rn") === expr("(90 * n + 99) div 100"), col("v")))
            .as("p90_disc"))
        .orderBy(col("fl"))
    }),

    // no-oracle: t-digest-style sketch quantiles — the 100 TB path (exact
    // percentile needs a per-group sort; the sketch merges map-side).
    // Unit spec bounds it against the exact values.
    "agg_approx_quantile" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_approx(l_extendedprice, array(0.5D, 0.9D), 10000)").as("q"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          round(element_at(col("q"), 1), 6).as("p50"),
          round(element_at(col("q"), 2), 6).as("p90"), col("n"))
        .orderBy(col("l_returnflag"))
    }),

    // statistical aggregates (stddev, correlation) the deterministic way:
    // accumulate EXACT decimal moments (n, Σx, Σy, Σx², Σy², Σxy — order-
    // independent under parallel partial aggregation), then evaluate the
    // closed forms on those exact values. Naive stddev/corr aggregates
    // fold doubles in partition order and are not bit-reproducible.
    "agg_stats" -> ((s, dir) => {
      val big = (c: org.apache.spark.sql.Column) =>
        c.cast(org.apache.spark.sql.types.DecimalType(38, 6))
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(big(col("l_quantity"))).as("sx"),
          sum(big(col("l_extendedprice"))).as("sy"),
          sum(big(col("l_quantity") * col("l_quantity"))).as("sxx"),
          sum(big(col("l_extendedprice") * col("l_extendedprice"))).as("syy"),
          sum(big(col("l_quantity") * col("l_extendedprice"))).as("sxy"))
        .select(
          col("l_returnflag"), col("n"),
          round(sqrt((col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / col("n"))
            / (col("n") - 1)), 6).as("stddev_qty"),
          round((col("n") * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double"))
            / sqrt((col("n") * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double"))
              * (col("n") * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double"))), 6)
            .as("corr_qty_price"))
        .orderBy(col("l_returnflag"))
    }),

    // Weighted mean and reliability-weighted sample variance per return
    // flag (weight = quantity, value = unit price signal extendedprice) —
    // the weighted-moments kit beside agg_stats' unweighted one (every
    // importance-sampled or frequency-weighted pipeline needs it; the
    // reliability form Σw(x−m)²/(Σw − Σw²/Σw) is what survey packages
    // compute). All four moments are EXACT DECIMAL(38,6) sums of
    // decimal-representable products (agg_stats' discipline — parallel
    // partial sums cannot perturb them); the two divisions are one double
    // tree per group, 6-dp-rounded at the end. ONE fact pass, group
    // count bounded by the flag domain.
    "agg_weighted_moments" -> ((s, dir) => {
      val big = (c: org.apache.spark.sql.Column) =>
        c.cast(org.apache.spark.sql.types.DecimalType(38, 6))
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(big(col("l_quantity"))).as("sw"),
          sum(big(col("l_quantity") * col("l_quantity"))).as("sw2"),
          sum(big(col("l_quantity") * col("l_extendedprice"))).as("swx"),
          sum(big(col("l_quantity") * col("l_extendedprice") * col("l_extendedprice")))
            .as("swx2"))
        .select(col("l_returnflag"), col("n"),
          round(col("sw").cast("double"), 6).as("sum_w"),
          round(col("swx").cast("double") / col("sw").cast("double"), 6)
            .as("wmean"),
          // publish the weighted STDDEV, not the raw variance: the
          // variance sits at ~1e9 where a 6-dp round is inside the
          // DECIMAL(38,6)→double conversion ulp (the moments exceed 2^53
          // quanta, so the cast itself rounds — and the two engines may
          // legitimately differ by 1 ulp there); sqrt compresses to ~1e4
          // where 6 dp is far above the ulp
          round(sqrt((col("swx2").cast("double") -
            col("swx").cast("double") * col("swx").cast("double") /
              col("sw").cast("double")) /
            (col("sw").cast("double") -
              col("sw2").cast("double") / col("sw").cast("double"))), 6)
            .as("wstddev"))
        .orderBy(col("l_returnflag"))
    }),

    // Geometric and harmonic means per return flag — the two means the
    // arithmetic one silently misrepresents (growth factors and ratios
    // want geometric; rates want harmonic — averaging them
    // arithmetically overstates both): gmean = exp(mean ln x) with
    // per-row ln 12-dp-gridded, hmean = n/Σ(1/x) with reciprocals
    // 18-dp-gridded (they live below 0.01, the fine grid keeps the
    // bounded-group sums exact AND order-free). ONE fact pass.
    "agg_gmean_hmean" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(dec(round(log(col("l_extendedprice")), 12), 12)).as("sln"),
          sum(dec(round(lit(1.0) / col("l_extendedprice"), 18), 18)).as("srec"))
        .select(col("l_returnflag"), col("n"),
          round(exp(col("sln").cast("double") / col("n")), 6).as("gmean"),
          round(col("n").cast("double") / col("srec").cast("double"), 6)
            .as("hmean"))
        .orderBy(col("l_returnflag"))
    }),

    // fixed-width histogram as a plain hash aggregation: the bin id is a
    // per-row expression, so binning costs one shuffle of (bin → partials)
    // — bounded by bin count, not row count — at any scale. The DECIMAL
    // pass through dsum keeps the per-bin quantity sums order-proof.
    "agg_histogram" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(floor(col("l_extendedprice") / 5000).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("bin"))
    }),

    // deterministic MODE per group: two-level aggregation (count per
    // (group, value), then min_by over the (-count, value) key) — both
    // levels hash aggs with map-side combine, and the explicit tie-break
    // (lowest value wins) makes the answer engine-identical, which SQL
    // mode() functions don't promise.
    "agg_mode" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("o_orderstatus"))
        .agg(min_by(struct(col("o_orderpriority").as("mode_priority"), col("n")),
          struct((-col("n")).as("nn"), col("o_orderpriority"))).as("best"))
        .select(col("o_orderstatus"), col("best.mode_priority").as("mode_priority"),
          col("best.n").as("n"))
        .orderBy(col("o_orderstatus"))
    }),

    // listagg/string_agg surface — ordered string concatenation per
    // group (report rows, debug digests, composite keys). Determinism is
    // IN THE SORT: collect_list's arrival order is partition-dependent,
    // so the array is sort_array'd BEFORE the join — the only way a
    // distributed string_agg can be reproducible. Bounded: priorities
    // per status ≤ 5 values (catalog-bounded group payloads; an
    // unbounded-payload listagg would be the wrong tool at 100 TB).
    "agg_string_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          array_join(sort_array(collect_set(col("o_orderpriority"))), "|")
            .as("priorities"))
        .orderBy(col("o_orderstatus"))
    }),

    // argmax/argmin surface — max_by/min_by as first-class aggregates
    // (WHO holds the extreme, not just what it is — the per-group
    // "representative row" primitive). Determinism under value ties is
    // IN THE KEY: the composite integer cents·10⁷ + custkey is strictly
    // increasing in (balance, custkey) because custkey < 10⁷ at every
    // test scale (documented bound), so the arg is unique — no
    // engine-dependent tie-break, no row_number fallback needed. One
    // hash agg, map-side partials, no shuffle beyond the 5 groups.
    "agg_argminmax" -> ((s, dir) => {
      t(s, dir, "customer")
        .withColumn("k",
          expr("CAST(round(c_acctbal * 100, 0) AS BIGINT) * 10000000 + c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          max_by(col("c_custkey"), col("k")).as("richest_custkey"),
          round(max(col("c_acctbal")), 6).as("max_bal"),
          min_by(col("c_custkey"), col("k")).as("poorest_custkey"),
          round(min(col("c_acctbal")), 6).as("min_bal"))
        .orderBy(col("c_mktsegment"))
    }),

    "agg_custom_udaf" -> ((s, dir) => customUdafFrame(s, dir)),

    // §2.J `udaf_typed` IS the typed-Aggregator surface of agg_custom_udaf
    // (one implementation, two inventory rows). Registered as a first-class
    // entry so the §2⇄registry map is exactly 1:1 (VERDICT r13 item 7) —
    // same frame builder, same oracle.
    "udaf_typed" -> ((s, dir) => customUdafFrame(s, dir)),

    // §2.J second typed Aggregator — the weighted mean via the
    // Aggregator[(w, x), Buf, Double] API with an EXACT integer-cents
    // buffer (see functions/WeightedMean: GeoMean's double buffer can
    // hide under the 6-dp round at log magnitudes; a price-scale Σw·x
    // cannot, so the buffer must be order-proof by construction). Same
    // quantity-weighted price mean as agg_weighted_moments' declarative
    // path — two API surfaces, one oracle-checked number.
    "udaf_weighted" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(graft.functions.WeightedMean.weightedMean(
            col("l_quantity"), col("l_extendedprice")), 6).as("wmean_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }))

  private val decSum6 = (e: String) =>
    s"round(CAST(sum(CAST($e AS DECIMAL(18,6))) AS DOUBLE), 6)"
  private val decAvg6 = (e: String) =>
    s"round(CAST(sum(CAST($e AS DECIMAL(18,6))) AS DOUBLE) / count(1), 6)"

  val oracles: Map[String, String] = Map(
    // replays KMV construction exactly: same multiplicative hash, sorted
    // distinct minima sliced to K, same estimator arithmetic (est_inter
    // reads the ALREADY-6dp-rounded est_union, mirroring the Spark plan)
    "agg_kmv_setops" ->
      """WITH h AS (
           SELECT CAST(ts AS DATE) AS day, ((user_id % 2147483648) * 2654435761) % 4294967296 AS h
           FROM events WHERE ts < TIMESTAMP '2024-01-08'),
         sk AS (
           SELECT day, list_sort(list_distinct(list(h)))[1:64] AS sk
           FROM h GROUP BY day),
         pairs AS (
           SELECT a.day AS d1, b.day AS d2, a.sk AS ska, b.sk AS skb,
                  list_sort(list_distinct(list_concat(a.sk, b.sk)))[1:64] AS u
           FROM sk a JOIN sk b ON a.day < b.day),
         est AS (
           SELECT d1, d2, ska, skb, u,
             round(CASE WHEN len(ska) < 64 THEN CAST(len(ska) AS DOUBLE)
                        ELSE 63.0 * 4294967296.0 / ska[64] END, 6) AS est_a,
             round(CASE WHEN len(skb) < 64 THEN CAST(len(skb) AS DOUBLE)
                        ELSE 63.0 * 4294967296.0 / skb[64] END, 6) AS est_b,
             round(CASE WHEN len(u) < 64 THEN CAST(len(u) AS DOUBLE)
                        ELSE 63.0 * 4294967296.0 / u[64] END, 6) AS est_union
           FROM pairs)
         SELECT d1, d2, est_a, est_b, est_union,
           round(CAST(len(list_filter(u, x -> list_contains(ska, x) AND list_contains(skb, x))) AS DOUBLE)
                 / len(u) * est_union, 6) AS est_inter
         FROM est ORDER BY d1, d2""",
    "q5_local_supplier" ->
      s"""SELECT n_name, ${decSum6("l_extendedprice * (1.0 - l_discount)")} AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q6_forecast_revenue" ->
      s"""SELECT ${decSum6("l_extendedprice * l_discount")} AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""",
    "q7_volume_shipping" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(year(l_shipdate) AS INT) AS l_year,
                ${decSum6("l_extendedprice * (1.0 - l_discount)")} AS revenue
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND n1.n_name IN ('NATION_1', 'NATION_2')
           AND n2.n_name IN ('NATION_1', 'NATION_2')
           AND n1.n_name <> n2.n_name
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                round(CAST(sum(CASE WHEN ns.n_name = 'NATION_1'
                        THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
                        ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                      / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                          AS DECIMAL(18,6))) AS DOUBLE), 6) AS mkt_share
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation nc ON c_nationkey = nc.n_nationkey
         JOIN region ON nc.n_regionkey = r_regionkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ns ON s_nationkey = ns.n_nationkey
         WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY 1 ORDER BY 1""",
    "q10_returned_items" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
                ${decSum6("l_extendedprice * (1.0 - l_discount)")} AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
           AND l_returnflag = 'R'
         GROUP BY 1, 2, 3, 4 ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q14_promo_effect" ->
      """SELECT round(100.0 *
                CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
                    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                    AS DECIMAL(18,6))) AS DOUBLE), 6) AS promo_revenue
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1996-09-01'
           AND l_shipdate < TIMESTAMP '1996-10-01'""",
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(1) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q2_min_cost_supplier" ->
      """SELECT s_acctbal, s_name, p_partkey, p_brand, l_extendedprice AS min_price
         FROM part, lineitem, supplier
         WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
           AND p_type = 'ECONOMY' AND p_size <= 10
           AND l_extendedprice = (SELECT min(l2.l_extendedprice)
                                  FROM lineitem l2
                                  WHERE l2.l_partkey = p_partkey)
         ORDER BY s_acctbal DESC, p_partkey, s_suppkey LIMIT 100""",
    "q18_large_volume" ->
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
                sum(l_quantity) AS total_qty
         FROM customer, orders, lineitem
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
           AND c_custkey = o_custkey AND o_orderkey = l_orderkey
         GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q21_suppliers_waiting" ->
      """SELECT s_name, count(1) AS numwait
         FROM supplier, lineitem l1, orders
         WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
           AND o_orderstatus = 'F' AND l1.l_shipdate > o_orderdate
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > l1.l_shipdate)
         GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 50""",
    "q13_customer_distribution" ->
      """SELECT c_count, count(1) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT OUTER JOIN orders
                 ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
               GROUP BY c_custkey) c_orders
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    "q15_top_supplier" ->
      """WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
                  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                    AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_revenue
         FROM supplier, revenue
         WHERE s_suppkey = supplier_no
           AND total_revenue = (SELECT max(total_revenue) FROM revenue)
         ORDER BY s_suppkey""",
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_type <> 'PROMO' AND p_size IN (1,5,10,15,20,25,30,35)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "q17_small_qty_revenue" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                  AS DOUBLE) / 7.0, 6) AS avg_yearly
         FROM lineitem, part
         WHERE p_partkey = l_partkey AND p_brand = 'Brand#11'
           AND l_quantity < (SELECT CAST(0.2 AS DOUBLE) * avg(l2.l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = p_partkey)""",
    "q20_excess_suppliers" ->
      """SELECT s_name, round(CAST(s_acctbal AS DOUBLE), 6) AS bal
         FROM supplier
         WHERE s_suppkey IN (
           SELECT l_suppkey FROM lineitem l1
           WHERE l1.l_partkey IN (SELECT p_partkey FROM part
                                  WHERE p_type = 'ECONOMY')
             AND l1.l_shipdate >= TIMESTAMP '1996-01-01'
             AND l1.l_shipdate < TIMESTAMP '1997-01-01'
           GROUP BY l1.l_suppkey, l1.l_partkey
           HAVING sum(l1.l_quantity) > CAST(0.3 AS DOUBLE) * (
             SELECT sum(l2.l_quantity) FROM lineitem l2
             WHERE l2.l_partkey = l1.l_partkey
               AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
               AND l2.l_shipdate < TIMESTAMP '1997-01-01'))
         ORDER BY s_name""",
    "q22_dormant_customers" ->
      """SELECT c_mktsegment, count(1) AS numcust,
                round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 6)
                  AS totacctbal
         FROM customer
         WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)))
                              AS DOUBLE) / count(1)
                            FROM customer WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT'
                             AND o_orderdate >= TIMESTAMP '1997-01-01')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q11_important_values" ->
      """SELECT l_partkey,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                  AS DOUBLE), 6) AS value
         FROM lineitem, supplier, nation, region
         WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
           AND n_regionkey = r_regionkey AND r_name = 'AMERICA'
         GROUP BY l_partkey
         HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) > (
           SELECT CAST(0.001 AS DOUBLE) *
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
           FROM lineitem, supplier, nation, region
           WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
             AND n_regionkey = r_regionkey AND r_name = 'AMERICA')
         ORDER BY value DESC, l_partkey""",
    "q9_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
                round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                  - CAST(0.6 AS DOUBLE) * p_retailprice * l_quantity
                  AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_profit
         FROM lineitem, supplier, nation, orders, part
         WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
           AND l_orderkey = o_orderkey AND l_partkey = p_partkey
           AND p_name LIKE '%widget%'
         GROUP BY n_name, year(o_orderdate)
         ORDER BY nation, o_year""",
    "q12_late_priority" ->
      """SELECT l_returnflag,
                count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 END) AS high_line_count,
                count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 END) AS low_line_count
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_grouping_id" ->
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n,
                CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
                CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
                CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q19_disjunctive_revenue" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                  AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 21)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
                AND l_quantity BETWEEN 10 AND 30)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
                AND l_quantity BETWEEN 20 AND 40)""",
    "agg_histogram" ->
      s"""SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
         count(1) AS n, ${decSum6("l_quantity")} AS sum_qty
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "agg_string_agg" ->
      """SELECT o_orderstatus, count(1) AS n,
                list_aggregate(list_sort(list(DISTINCT o_orderpriority)), 'string_agg', '|')
                  AS priorities
         FROM orders GROUP BY 1 ORDER BY 1""",
    "agg_argminmax" ->
      """WITH b AS (
           SELECT c_mktsegment, c_custkey, c_acctbal,
                  CAST(round(c_acctbal * 100, 0) AS BIGINT) * 10000000 + c_custkey
                    AS k
           FROM customer)
         SELECT c_mktsegment, count(1) AS n,
                arg_max(c_custkey, k) AS richest_custkey,
                round(max(c_acctbal), 6) AS max_bal,
                arg_min(c_custkey, k) AS poorest_custkey,
                round(min(c_acctbal), 6) AS min_bal
         FROM b GROUP BY 1 ORDER BY 1""",
    "agg_mode" ->
      """SELECT o_orderstatus, mode_priority, n FROM (
           SELECT o_orderstatus, o_orderpriority AS mode_priority, count(1) AS n,
             row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY count(1) DESC, o_orderpriority) AS rn
           FROM orders GROUP BY o_orderstatus, o_orderpriority)
         WHERE rn = 1 ORDER BY o_orderstatus""",
    "agg_group" ->
      s"""SELECT l_returnflag, l_linestatus,
         ${decSum6("l_quantity")} AS sum_qty,
         ${decSum6("l_extendedprice")} AS sum_base_price,
         ${decSum6("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         ${decSum6("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
         ${decAvg6("l_quantity")} AS avg_qty,
         ${decAvg6("l_extendedprice")} AS avg_price,
         ${decAvg6("l_discount")} AS avg_disc,
         count(1) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q3_shipping" ->
      s"""SELECT l_orderkey, o_orderdate,
         ${decSum6("l_extendedprice * (1.0 - l_discount)")} AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1996-06-30 00:00:00'
           AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "agg_having" ->
      s"""SELECT l_orderkey, ${decSum6("l_quantity")} AS sum_qty, count(1) AS n_lines
         FROM lineitem GROUP BY l_orderkey
         HAVING ${decSum6("l_quantity")} > 150 ORDER BY l_orderkey""",
    "sub_scalar" ->
      """SELECT c_custkey, c_mktsegment, round(CAST(c_acctbal AS DOUBLE), 6) AS bal
         FROM customer o
         WHERE c_acctbal > (
           SELECT CAST(sum(CAST(i.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(1)
           FROM customer i WHERE i.c_mktsegment = o.c_mktsegment)
         ORDER BY c_custkey""",
    // CAST: DuckDB count(DISTINCT) is BIGINT but Spark's bitmap-sum path
    // emits BIGINT too — cast defensively for engine-stable schema compare
    "agg_bitmap_distinct" ->
      """SELECT n_regionkey, CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_regionkey ORDER BY n_regionkey""",
    "agg_quantile_merge" ->
      """WITH p AS (
           SELECT c_nationkey,
                  (CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000) // 25000 AS bkt,
                  count(1) AS cnt
           FROM customer GROUP BY 1, 2),
         m AS (
           SELECT n_regionkey, bkt, CAST(sum(cnt) AS BIGINT) AS cnt
           FROM p JOIN nation ON c_nationkey = n_nationkey GROUP BY 1, 2),
         c AS (
           SELECT n_regionkey, bkt, cnt,
                  CAST(sum(cnt) OVER (PARTITION BY n_regionkey ORDER BY bkt
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                  CAST(sum(cnt) OVER (PARTITION BY n_regionkey) AS BIGINT) AS n
           FROM m)
         SELECT n_regionkey, max(n) AS n_customers,
                CAST(min(CASE WHEN cum * 2 >= n THEN bkt END) * 250 - 1000 AS DOUBLE) AS p50_est,
                CAST(min(CASE WHEN cum * 10 >= n * 9 THEN bkt END) * 250 - 1000 AS DOUBLE) AS p90_est,
                CAST(min(CASE WHEN cum * 100 >= n * 99 THEN bkt END) * 250 - 1000 AS DOUBLE) AS p99_est
         FROM c GROUP BY 1 ORDER BY 1""",
    "agg_approx_topk" ->
      """SELECT tok AS token, count(1) AS cnt FROM (
           SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
           FROM documents)
         GROUP BY tok ORDER BY cnt DESC, token LIMIT 9""",
    "agg_weighted_quantile" ->
      """WITH g AS (
           SELECT l_returnflag AS rf, l_quantity AS qty,
                  sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS w
           FROM lineitem GROUP BY 1, 2),
         c AS (
           SELECT rf, qty, w,
                  sum(w) OVER (PARTITION BY rf ORDER BY qty
                    ROWS UNBOUNDED PRECEDING) AS cum,
                  sum(w) OVER (PARTITION BY rf) AS tot
           FROM g)
         SELECT rf, min(qty) AS wmedian_qty,
                round(CAST(max(tot) AS DOUBLE), 6) AS total_weight
         FROM c WHERE cum * 2 >= tot
         GROUP BY rf ORDER BY rf""",
    "agg_entropy_gini" ->
      """WITH c AS (
           SELECT o_orderstatus AS st, o_orderpriority AS pri, count(1) AS c
           FROM orders GROUP BY 1, 2),
         tot AS (SELECT st, CAST(sum(c) AS BIGINT) AS tot FROM c GROUP BY st),
         p AS (SELECT c.st, tot.tot, CAST(c.c AS DOUBLE) / tot.tot AS p
               FROM c JOIN tot USING (st))
         SELECT st, max(tot) AS n,
                round(-CAST(sum(CAST(p * ln(p) AS DECIMAL(18,6))) AS DOUBLE), 6) AS entropy,
                round(1.0 - CAST(sum(CAST(p * p AS DECIMAL(18,6))) AS DOUBLE), 6) AS gini
         FROM p GROUP BY st ORDER BY st""",
    "agg_skew_kurtosis" ->
      """WITH stats AS (
           SELECT event_type, count(1) AS n,
                  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
                  CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS svv
           FROM events GROUP BY 1),
         s2 AS (SELECT event_type, n, sv / n AS mu,
                       sqrt(greatest((svv - sv * sv / n) / n, 0)) AS sigma
                FROM stats),
         z AS (SELECT e.event_type, s.mu, s.sigma,
                      CAST(round((e.value - s.mu) / s.sigma, 6) AS DECIMAL(9,6)) AS z6
               FROM events e JOIN s2 s USING (event_type) WHERE s.sigma > 0),
         z2t AS (SELECT event_type, mu, sigma, z6,
                        CAST(z6 * z6 AS DECIMAL(17,12)) AS z2 FROM z)
         SELECT event_type, count(1) AS n,
                round(max(mu), 6) AS mean, round(max(sigma), 6) AS stddev,
                round(CAST(sum(z2 * z6) AS DOUBLE) / count(1), 6) AS skewness,
                round(CAST(sum(z2 * z2) AS DOUBLE) / count(1) - 3, 6) AS kurtosis
         FROM z2t GROUP BY event_type ORDER BY event_type""",
    "agg_countmin" ->
      """WITH e AS (SELECT event_type, user_id AS u FROM events),
         ms AS (SELECT * FROM (VALUES (0, 2654435761), (1, 2246822519), (2, 3266489917)) AS t(j, m)),
         cells AS (SELECT event_type, u, j, (((u % 2147483648) * m) % 4294967296) % 256 AS bkt
                   FROM e CROSS JOIN ms),
         partial AS (SELECT event_type, j, bkt, count(1) AS c FROM cells GROUP BY 1, 2, 3),
         sketch AS (SELECT j, bkt, CAST(sum(c) AS BIGINT) AS c FROM partial GROUP BY 1, 2),
         truth AS (SELECT u, count(1) AS true_n FROM e GROUP BY u
                   ORDER BY true_n DESC, u LIMIT 10),
         probes AS (SELECT u, true_n, j, (((u % 2147483648) * m) % 4294967296) % 256 AS bkt
                    FROM truth CROSS JOIN ms)
         SELECT u AS user_id, true_n, min(c) AS cms_est
         FROM probes JOIN sketch USING (j, bkt)
         GROUP BY u, true_n
         ORDER BY true_n DESC, user_id""",
    "sub_exists" ->
      """SELECT c_custkey, round(CAST(c_acctbal AS DOUBLE), 6) AS bal
         FROM customer c
         WHERE EXISTS (
           SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
         ORDER BY c_custkey""",
    "sub_not_in" ->
      """SELECT c_custkey FROM customer
         WHERE c_custkey NOT IN (
           SELECT CASE WHEN o_totalprice < 0 THEN NULL ELSE o_custkey END
           FROM orders WHERE o_orderstatus = 'F')
         ORDER BY c_custkey""",
    "agg_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(1) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_rollup" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
         ${decSum6("l_quantity")} AS sum_qty, count(1) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) ORDER BY rf, ls""",
    "agg_cube" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
         ${decSum6("l_quantity")} AS sum_qty, count(1) AS n
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) ORDER BY rf, ls""",
    "agg_grouping_sets" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
         ${decSum6("l_quantity")} AS sum_qty, count(1) AS n
         FROM lineitem GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ()) ORDER BY rf, ls""",
    "agg_filtered" ->
      s"""SELECT l_returnflag,
         ${decSum6("CASE WHEN l_discount > 0.05 THEN l_extendedprice END")} AS disc_rev,
         count(CASE WHEN l_quantity > 25 THEN 1 END) AS n_bulky, count(1) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_collect" ->
      """SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types, count(1) AS n_events
         FROM events GROUP BY user_id ORDER BY user_id""",
    "agg_pivot" ->
      s"""SELECT c_mktsegment,
         ${decSum6("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS "F",
         ${decSum6("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS "O",
         ${decSum6("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS "P"
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "agg_quantiles" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
         round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
         count(1) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_percentile_disc" ->
      """WITH r AS (
           SELECT l_returnflag AS fl, l_extendedprice AS v,
                  row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice) AS rn,
                  count(1) OVER (PARTITION BY l_returnflag) AS n
           FROM lineitem)
         SELECT fl, CAST(max(n) AS BIGINT) AS n,
                max(CASE WHEN rn = (25 * n + 99) // 100 THEN v END) AS p25_disc,
                max(CASE WHEN rn = (50 * n + 99) // 100 THEN v END) AS p50_disc,
                max(CASE WHEN rn = (75 * n + 99) // 100 THEN v END) AS p75_disc,
                max(CASE WHEN rn = (90 * n + 99) // 100 THEN v END) AS p90_disc
         FROM r GROUP BY fl ORDER BY fl""",
    "agg_custom_udaf" ->
      """SELECT l_returnflag, round(exp(avg(ln(l_extendedprice))), 6) AS geo_price, count(1) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "udaf_typed" ->
      """SELECT l_returnflag, round(exp(avg(ln(l_extendedprice))), 6) AS geo_price, count(1) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_stats" ->
      """SELECT l_returnflag, n,
         round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)), 6) AS stddev_qty,
         round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr_qty_price
         FROM (
           SELECT l_returnflag, count(1) AS n,
             sum(CAST(l_quantity AS DECIMAL(38,6))) AS sx,
             sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS sy,
             sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS sxx,
             sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS syy,
             sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS sxy
           FROM lineitem GROUP BY l_returnflag)
         ORDER BY l_returnflag""",
    "udaf_weighted" ->
      """SELECT l_returnflag,
         round((CAST(sum(CAST(round(l_quantity * l_extendedprice * 100, 0)
                  AS BIGINT)) AS DOUBLE) / 100.0)
               / sum(CAST(round(l_quantity, 0) AS BIGINT)), 6) AS wmean_price,
         count(1) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_gmean_hmean" ->
      """SELECT l_returnflag, n,
         round(exp(CAST(sln AS DOUBLE) / n), 6) AS gmean,
         round(CAST(n AS DOUBLE) / CAST(srec AS DOUBLE), 6) AS hmean
         FROM (
           SELECT l_returnflag, count(1) AS n,
             sum(CAST(round(ln(l_extendedprice), 12) AS DECIMAL(18,12))) AS sln,
             sum(CAST(round(1.0 / l_extendedprice, 18) AS DECIMAL(18,18))) AS srec
           FROM lineitem GROUP BY 1)
         ORDER BY l_returnflag""",
    "agg_weighted_moments" ->
      """SELECT l_returnflag, n,
         round(CAST(sw AS DOUBLE), 6) AS sum_w,
         round(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS wmean,
         round(sqrt((CAST(swx2 AS DOUBLE)
                - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE))
               / (CAST(sw AS DOUBLE) - CAST(sw2 AS DOUBLE) / CAST(sw AS DOUBLE))), 6)
           AS wstddev
         FROM (
           SELECT l_returnflag, count(1) AS n,
             sum(CAST(l_quantity AS DECIMAL(38,6))) AS sw,
             sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS sw2,
             sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS swx,
             sum(CAST(l_quantity * l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS swx2
           FROM lineitem GROUP BY l_returnflag)
         ORDER BY l_returnflag"""
  )
}
