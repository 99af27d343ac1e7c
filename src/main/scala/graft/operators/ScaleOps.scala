package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Cluster-scale layout patterns demonstrated as runnable, oracled queries
  * (BASELINE.json north star: every operator designed for 100 TB).
  *
  * `join_bucketed`: both sides persisted bucketed-by-join-key → the join
  * plans with NO shuffle exchange on either side (asserted in the unit
  * spec). At 100 TB this is the difference between moving both tables over
  * the network per join and never moving them at all — bucketing is decided
  * once at write time and amortized over every subsequent join/agg on the
  * key.
  *
  * `join_skew_salted`: the standard hot-key defuser — the build side is
  * replicated SALT ways, the probe side picks a deterministic salt per row,
  * and the join key becomes (key, salt) so one hot key's rows spread over
  * SALT reducers instead of one straggler. Result provably equals the
  * unsalted join (same oracle).
  */
object ScaleOps extends graft.Bank {

  private val SALT = 8

  /** The bucketed table pair for `join_bucketed`: external tables (bucket
    * metadata needs the catalog; the explicit path keeps the warehouse conf
    * untouched), each named after its fixture dir, so two sf dirs with the
    * same digits never collide. */
  private def bucketed(table: String, key: String) = graft.Fixture(s"${table}_b") { (s, dir, out) =>
    t(s, dir, table).write.mode(SaveMode.Overwrite).option("path", out.toString)
      .bucketBy(8, key).sortBy(key).saveAsTable(out.getFileName.toString)
  }
  private val bucketedOrders = bucketed("orders", "o_custkey")
  private val bucketedCustomer = bucketed("customer", "c_custkey")

  /** (orders, customer) bucketed table names for `dir`. */
  def prepareBucketed(s: SparkSession, dir: String): (String, String) =
    (bucketedOrders(s, dir).getFileName.toString, bucketedCustomer(s, dir).getFileName.toString)

  val queries: Map[String, QFn] = Map(
    // Range-partitioner boundary pre-flight — exactly what Spark's
    // RangePartitioner does before a global sort (sample, cut, assign),
    // surfaced as an auditable report: a FIXED-SIZE deterministic-hash
    // sample (the 3200 rows with the smallest hash — a uniform random
    // draw whose size is CONSTANT, not a fraction of the fact, so it
    // lowers to TakeOrderedAndProject: bounded per-partition heaps, one
    // driver merge, no shuffle of the fact), 31 exact rank-pick cut
    // points from the sample, then every FULL row binned by a broadcast
    // 31-element boundary array (a per-row codegen'd array count — no
    // join, no shuffle until the 32-row rollup). load_factor tells you
    // whether the sample was good enough BEFORE you commit a 100 TB sort
    // to those boundaries. The rank window runs single-partition on the
    // SAMPLE only — bounded at 3200 rows by construction (the old 1%
    // sample grew linearly with the fact: ~1 TB through one task at
    // 100 TB; a constant draw is the real reservoir shape).
    "sort_range_boundaries" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("v"))
      // tie-break includes v: (l_orderkey, l_linenumber) is NOT unique in
      // the generated lineitem, so a duplicate pair straddling the LIMIT
      // cut would otherwise let each engine keep a different member (and
      // a different v) — ordering by v too makes the kept v-multiset
      // deterministic whichever duplicate wins
      val smp = li.withColumn("h", expr(
          "((l_orderkey * 8 + l_linenumber) % 2147483648) * 2654435761 % 2147483648"))
        .orderBy(col("h"), col("l_orderkey"), col("l_linenumber"), col("v"))
        .limit(3200)
      val ranked = smp
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
          .Window.orderBy(col("v"), col("l_orderkey"), col("l_linenumber"))))
        .withColumn("ns", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
      val bnds = ranked.filter(expr(
          "array_contains(transform(sequence(1, 31), i -> (i * ns + 31) div 32), rn)"))
        .agg(sort_array(collect_list(col("v"))).as("bnds"))
      val counts = li.crossJoin(broadcast(bnds))
        .select(expr("size(filter(bnds, x -> x < v))").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_rows"))
      counts
        .withColumn("total", sum(col("n_rows")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .select(col("bucket"), col("n_rows"),
          round(col("n_rows").cast("double") * 32 / col("total"), 6)
            .as("load_factor"))
        .orderBy(col("bucket"))
    }),

    "join_bucketed" -> ((s, dir) => {
      val (oTbl, cTbl) = prepareBucketed(s, dir)
      val o = s.table(oTbl); val c = s.table(cTbl)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    // runtime BLOOM-FILTER join pruning (Spark's InjectRuntimeFilter): the
    // selective side's join keys fold into a bloom filter (a one-row
    // subquery) that the big side's SCAN applies BEFORE its shuffle —
    // non-matching lineitem rows are dropped at the source, so the join's
    // dominant exchange carries only probable matches. At 100 TB this is
    // the shuffle-join lever next to broadcast (too big to broadcast,
    // selective enough to prune). Conf-gated on a CLONED session:
    // broadcast disabled so the shuffle join exists at fixture scale, and
    // the application-side size threshold lowered because the default
    // (10 GB) assumes production scans. PlanSpec pins might_contain +
    // bloom_filter_agg in the plan.
    "join_bloom_filtered" -> ((s, dir) => {
      val sc = org.apache.spark.sql.graftbridge.Bridge.cloneSession(s)
      sc.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      sc.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      sc.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val l = t(sc, dir, "lineitem")
      val o = t(sc, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // DYNAMIC partition pruning: the selective filter lives on the DIM
    // side, so static pruning cannot touch the fact scan — at runtime the
    // dim's qualifying join keys become a pruning subquery on the fact's
    // partition column (`dynamicpruningexpression(... IN dynamicpruning#N)`
    // in PartitionFilters, pinned by PlanSpec), and the fact reads ONLY
    // the surviving partition directories. At 100 TB this is the
    // difference between scanning the whole fact table and scanning one
    // date/status slice when the cut is only expressible through a dim —
    // the standard star-schema access path. Two fixture-scale accommodations
    // (neither changes semantics): the dim is a staged PARQUET table, not
    // an inline relation (ConvertToLocalRelation would fold the filter
    // away before the pruning rule sees it), and useStats=false on a
    // cloned session (the stats-based benefit estimate vetoes DPP when the
    // whole fact is a few KB; production-scale facts pass it on defaults).
    "join_dpp" -> ((s, dir) => {
      val sc = org.apache.spark.sql.graftbridge.Bridge.cloneSession(s)
      sc.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      val fact = sc.read.parquet(EtlOps.stagePartitioned(sc, dir).toString)
      val dim = sc.read.parquet(EtlOps.stageStatusDim(sc, dir).toString)
        .filter(col("label") === "finished")
      fact.join(dim, fact("o_orderstatus") === dim("status"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("label"))
    }),

    // interval × interval OVERLAP join with both sides fact-sized: the
    // generalization of join_range_bucket (point-in-interval). Each
    // interval explodes into the fixed-width (7-day) buckets it covers —
    // blowup bounded by interval_len/width, here ≤2 — and the overlap
    // predicate becomes a bucket EQUI-join + exact post-filter. An
    // overlapping pair appears in every shared bucket, so instead of a
    // dedup shuffle the CANONICAL-BUCKET filter keeps each pair exactly
    // once: only in the bucket containing the later of the two starts.
    // Net: one hash join whose shuffle is bounded by Σ(len/width), zero
    // nested-loop, zero distinct — the plan that survives when both
    // interval sets are billions of rows. (Broadcast handles a small side;
    // this is the shape for when neither side fits.)
    "join_interval_overlap" -> ((s, dir) => {
      val W = 7 // bucket width in days
      def side(parity: Int, p: String) = t(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(25)) === parity)
        .select(
          col("o_orderkey").as(s"${p}_key"),
          col("o_orderdate").cast("date").as(s"${p}_s"),
          date_add(col("o_orderdate").cast("date"),
            (pmod(col("o_orderkey"), lit(5)) + 1).cast("int")).as(s"${p}_e"))
      def buckets(df: org.apache.spark.sql.DataFrame, p: String) =
        df.withColumn("bkt", explode(expr(
          s"sequence(floor(datediff(${p}_s, date'1970-01-01') / $W)," +
            s" floor(datediff(${p}_e, date'1970-01-01') / $W))")))
      val a = buckets(side(0, "a"), "a")
      val b = buckets(side(1, "b"), "b")
      a.join(b, Seq("bkt"))
        .filter(col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
        .filter(col("bkt") === floor(
          datediff(greatest(col("a_s"), col("b_s")), lit("1970-01-01").cast("date")) / W))
        .select(col("a_key"), col("b_key"),
          (datediff(least(col("a_e"), col("b_e")),
            greatest(col("a_s"), col("b_s"))) + 1).cast("long").as("overlap_days"))
        .orderBy(col("a_key"), col("b_key"))
    }),

    "join_skew_salted" -> ((s, dir) => {
      val e = events(s, dir)
      // per-user dimension derived once (stands in for a hot-key-prone dim)
      val dim = e.groupBy(col("user_id").as("d_user"))
        .agg(countDistinct(col("event_type")).as("n_types"))
      val salted = dim.withColumn("salt", explode(array((0 until SALT).map(lit): _*)))
      // pmod over a null-coalesced id: negative ids still land in 0..SALT-1
      // and null ids keep a valid salt, preserving plain-join equality
      val probe = e.withColumn("salt", pmod(coalesce(col("event_id"), lit(0L)), lit(SALT)).cast("int"))
      probe.join(salted,
          probe("user_id") === salted("d_user") && probe("salt") === salted("salt"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), max(col("n_types")).as("n_types"))
        .orderBy(col("user_id"))
    }))

  val oracles: Map[String, String] = Map(
    "sort_range_boundaries" ->
      """WITH li AS (
           SELECT l_orderkey, l_linenumber, l_extendedprice AS v FROM lineitem),
         smp AS (
           SELECT v, l_orderkey, l_linenumber FROM li
           ORDER BY ((l_orderkey * 8 + l_linenumber) % 2147483648) * 2654435761
                    % 2147483648, l_orderkey, l_linenumber, v
           LIMIT 3200),
         r AS (
           SELECT v,
                  row_number() OVER (ORDER BY v, l_orderkey, l_linenumber) AS rn,
                  count(1) OVER () AS ns
           FROM smp),
         b AS (
           SELECT list(v ORDER BY v) AS bnds FROM r
           WHERE list_contains(list_transform(range(1, 32),
                   i -> (i * ns + 31) // 32), rn)),
         assigned AS (
           SELECT len(list_filter(bnds, x -> x < v)) AS bucket
           FROM li CROSS JOIN b),
         c AS (SELECT bucket, count(1) AS n_rows FROM assigned GROUP BY 1)
         SELECT CAST(bucket AS INT) AS bucket, n_rows,
                round(CAST(n_rows AS DOUBLE) * 32 / sum(n_rows) OVER (), 6)
                  AS load_factor
         FROM c ORDER BY bucket""",
    "join_bucketed" ->
      """SELECT c_mktsegment, count(1) AS n_orders,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "join_bloom_filtered" ->
      """SELECT o_orderpriority, count(1) AS n,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "join_dpp" ->
      """SELECT 'finished' AS label, count(1) AS n,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
         FROM orders WHERE o_orderstatus = 'F'
         GROUP BY 1 ORDER BY label""",
    // oracle states the SEMANTICS (plain overlap theta-join); the bucketed
    // plan must produce identical pairs
    "join_interval_overlap" ->
      """WITH a AS (
           SELECT o_orderkey AS a_key, CAST(o_orderdate AS DATE) AS a_s,
                  CAST(o_orderdate AS DATE) + CAST((o_orderkey % 5) + 1 AS INTEGER) AS a_e
           FROM orders WHERE o_orderkey % 25 = 0),
         b AS (
           SELECT o_orderkey AS b_key, CAST(o_orderdate AS DATE) AS b_s,
                  CAST(o_orderdate AS DATE) + CAST((o_orderkey % 5) + 1 AS INTEGER) AS b_e
           FROM orders WHERE o_orderkey % 25 = 1)
         SELECT a_key, b_key,
                date_diff('day', greatest(a_s, b_s), least(a_e, b_e)) + 1 AS overlap_days
         FROM a JOIN b ON a_s <= b_e AND b_s <= a_e
         ORDER BY a_key, b_key""",
    "join_skew_salted" ->
      """SELECT user_id, count(1) AS n_events, max(n_types) AS n_types
         FROM events JOIN (SELECT user_id AS d_user, count(DISTINCT event_type) AS n_types
                           FROM events GROUP BY user_id) d
           ON user_id = d_user
         GROUP BY user_id ORDER BY user_id"""
  )
}
