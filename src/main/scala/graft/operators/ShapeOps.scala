package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Reshape + time-series spine operators (SURVEY.md §2 round-5 additions).
  *
  * `agg_unpivot` — wide→long melt via `Dataset.unpivot`: plans as a single
  * `Expand` (each input row emits one row per value column) — a pure map-side
  * reshape with NO shuffle and no join, so it scales linearly with input at
  * any corpus size. The inverse of `agg_pivot`.
  *
  * `join_lateral` — correlated LATERAL subquery with ORDER BY + LIMIT (the
  * SQL-standard per-row top-n). Catalyst decorrelates it into a
  * `WindowGroupLimit` (per-partition PARTIAL top-k BEFORE the shuffle, so
  * only k·partitions rows move) + a broadcast join back to the outer side —
  * exactly the plan you'd hand-write at 100 TB, derived automatically from
  * declarative SQL. The surface matters: lateral is how users naturally
  * phrase "for each dim row, the top-n facts".
  *
  * `ts_resample` / `ts_locf` — the two halves of time-series regularization
  * every metrics/feature pipeline needs: densify an irregular event stream
  * onto a fixed daily spine (gap-fill with zeros), and impute gaps by
  * carrying the last observation forward (`last(..., ignoreNulls)` over an
  * unbounded-preceding row frame). The spine is dimension-sized by
  * construction (|keys| × |days| — at 100 TB still millions, not the fact
  * cardinality) and is built from two 1-row/distinct aggregates, so the
  * spine cross-product broadcasts; the only fact-sized operations are one
  * hash aggregation (by key × day) and, for LOCF, one window sorted within
  * each key partition. No fact-sized cartesian exists anywhere in the plan.
  */
object ShapeOps extends graft.Bank {

  val queries: Map[String, QFn] = Map(
    "agg_unpivot" -> ((s, dir) => {
      t(s, dir, "part")
        .unpivot(
          Array(col("p_partkey")),
          Array(col("p_size").cast("double").as("p_size"), col("p_retailprice")),
          "metric", "value")
        .select(col("p_partkey"), col("metric"), round(col("value"), 6).as("value"))
        .orderBy(col("p_partkey"), col("metric"))
    }),

    "join_lateral" -> ((s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("lat_nation")
      t(s, dir, "customer").createOrReplaceTempView("lat_customer")
      s.sql(
        """SELECT n_name, c_custkey, c_acctbal
           FROM lat_nation, LATERAL (
             SELECT c_custkey, c_acctbal FROM lat_customer
             WHERE c_nationkey = n_nationkey
             ORDER BY c_acctbal DESC, c_custkey LIMIT 2)
           ORDER BY n_name, c_acctbal DESC, c_custkey""")
    }),

    "ts_resample" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("event_type"), col("ts").cast("date").as("day"), col("value"))
      // ONE fact scan: the (type, day)-grain daily agg is persisted and
      // BOTH spines derive from it (its day/type domains are identical to
      // the fact's — every (type, day) present survives the groupBy). The
      // old form scanned events three times (days agg, types distinct,
      // daily agg) — the re-executed-subtree class PlanSpec lints.
      val daily = persistShared("ts_resample", e.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("tv")))
      val days = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val types = daily.select(col("event_type")).distinct()
      types.crossJoin(broadcast(days))
        .join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          coalesce(col("tv"), lit(0.0)).as("total_value"))
        .orderBy(col("event_type"), col("day"))
    }),

    // time-weighted average over an IRREGULAR event stream: each value
    // holds until the user's next event, so the mean weights each value by
    // its holding duration (µs) rather than treating samples as equally
    // spaced — the correct aggregate for unevenly sampled series (sensor
    // readings, account balances, feature snapshots). One window (lead
    // over the user's time order, sorted within each user partition) + one
    // hash agg; weights in exact DECIMAL(28,6) so the Σ(value·duration)
    // fold is order-independent under parallel partial aggregation (µs
    // durations reach ~1e12 — DECIMAL(18,6) would overflow the product).
    "ts_time_weighted" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id")) // event_id breaks ts ties
      val e = events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts")).as("t"))
        .withColumn("t_next", lead(col("t"), 1).over(w))
      e.groupBy(col("user_id"))
        .agg(
          min(col("t")).as("t0"), max(col("t")).as("t1"),
          round(avg(col("value")), 6).as("plain_avg"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 6)) *
            (col("t_next") - col("t"))).as("num"))
        .select(col("user_id"),
          when(col("t1") === col("t0"), col("plain_avg"))
            .otherwise(round(col("num").cast("double") / (col("t1") - col("t0")), 6))
            .as("twa"))
        .orderBy(col("user_id"))
    }),

    // funnel analysis (view → click → purchase) as ONE hash aggregation:
    // min(ts) FILTER per stage is partial-aggregatable, so each user's
    // three first-occurrence timestamps reduce map-side and the shuffle
    // carries one row per user — vs the naive three-way self-join of the
    // event log with itself (three fact-sized shuffles and a join
    // explosion on active users). The stage ladder is then a per-row CASE.
    // This is the standard event-sequence/conversion query every product
    // analytics pipeline runs at fact-table scale.
    "seq_funnel" -> ((s, dir) => {
      val e = events(s, dir)
      def firstTs(tpe: String) =
        min(when(col("event_type") === tpe, col("ts")))
      e.groupBy(col("user_id"))
        .agg(
          firstTs("view").as("t_view"),
          firstTs("click").as("t_click"),
          firstTs("purchase").as("t_buy"))
        .select(col("user_id"),
          when(col("t_view").isNull, lit(0))
            .when(col("t_click").isNull || col("t_click") <= col("t_view"), lit(1))
            .when(col("t_buy").isNull || col("t_buy") <= col("t_click"), lit(2))
            .otherwise(lit(3)).as("stage"))
        .orderBy(col("user_id"))
    }),

    // Simple-exponential-smoothing forecast backtest per series — the
    // smoothing member beside ts_forecast_snaive's seasonal baseline:
    // train the SES level (α = 0.3) on the first 23 days via the
    // SEQUENTIAL fold the recurrence demands (ts_ewma's aggregate-HOF
    // shape — a frame window cannot express it), hold it flat over the
    // last 7 days, and report the backtest MAE. Both the level fold and
    // the error fold run in DETERMINISTIC array order inside one row per
    // series (day-grain arrays, calendar-bounded), so the doubles are
    // engine-identical without gridding — the ts_ewma precedent.
    "ts_ses_forecast" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("et"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val h = daily.groupBy(col("et"))
        .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("h"))
        .select(col("et"),
          expr("transform(h, r -> CAST(r.c AS DOUBLE))").as("vs"))
      val lvl = aggregate(expr("slice(vs, 2, 22)"),
        element_at(col("vs"), 1),
        (acc, x) => lit(0.3) * x + lit(0.7) * acc)
      // 23-train / 7-test split is bound to the 30-day fixture calendar
      // (the other bounded-round vals share this convention). Series
      // shorter than 24 days have no hold-out: emit NULL mae_7d on BOTH
      // engines (Spark's empty-slice aggregate would give 0.0 while
      // DuckDB's list_aggregate gives NULL — a latent gate break).
      h.select(col("et").as("event_type"),
          size(col("vs")).cast("long").as("n_days"),
          round(lvl, 6).as("level"),
          when(size(col("vs")) < 24, lit(null).cast("double"))
            .otherwise(round(aggregate(expr("slice(vs, 24, 7)"), lit(0.0),
              (acc, x) => acc + abs(x - lvl)) / 7, 6)).as("mae_7d"))
        .orderBy(col("event_type"))
    }),

    // Theta-method forecast (θ = 2, the M3-competition baseline that
    // beat most complex methods): per Hyndman & Billah (2003) the θ=2
    // theta method IS SES plus a drift of HALF the linear-trend slope —
    // so the train fold carries (t, Σt·y, Σy, ses-level) in one 4-state
    // array pass (Σt, Σt² are closed-form constants for the fixed 23-day
    // train), and the 7-day hold-out MAE folds against level + b·h.
    // Same 23/7 fixture split and the <24-day NULL guard as
    // ts_ses/holt_forecast; both engines run the identical prepended-
    // init list fold.
    "ts_theta_forecast" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("et"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val h = daily.groupBy(col("et"))
        .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("h"))
        .select(col("et"),
          expr("transform(h, r -> CAST(r.c AS DOUBLE))").as("vs"))
      val st = aggregate(expr("slice(vs, 2, 22)"),
        array(lit(1.0), element_at(col("vs"), 1),
          element_at(col("vs"), 1), element_at(col("vs"), 1)),
        (acc, z) => array(
          element_at(acc, 1) + 1,
          element_at(acc, 2) + (element_at(acc, 1) + 1) * z,
          element_at(acc, 3) + z,
          lit(0.3) * z + lit(0.7) * element_at(acc, 4)))
      val withSt = h.withColumn("st", st)
        // Σt = 276, Σt² = 4324 for t = 1..23; slope denominator
        // 23·4324 − 276² = 23276 (exact integer constants)
        .withColumn("slope",
          (lit(23.0) * element_at(col("st"), 2) -
            lit(276.0) * element_at(col("st"), 3)) / lit(23276.0))
        .withColumn("lvl", element_at(col("st"), 4))
        .withColumn("b", col("slope") / 2)
      val mae = aggregate(expr("slice(vs, 24, 7)"),
        array(lit(0.0), lit(0.0)),
        (acc, z) => array(
          element_at(acc, 1) + 1,
          element_at(acc, 2) + abs(z -
            (col("lvl") + col("b") * (element_at(acc, 1) + 1)))))
      withSt.select(col("et").as("event_type"),
          size(col("vs")).cast("long").as("n_days"),
          round(col("lvl"), 6).as("level"),
          round(col("b"), 6).as("drift"),
          when(size(col("vs")) < 24, lit(null).cast("double"))
            .otherwise(round(element_at(mae, 2) / 7, 6)).as("mae_7d"))
        .orderBy(col("event_type"))
    }),

    // Croston's method — THE intermittent-demand forecaster (sparse
    // series with many zero days defeat plain SES: the level decays
    // toward zero between demands; Croston separates demand SIZE from
    // demand SPACING): per type, SES(α=0.3) over the nonzero daily
    // demands → z, SES over the day gaps between consecutive demand
    // days → p, forecast rate = z/p demand per day. Gaps come straight
    // from the sorted demand-day list (no calendar grid needed — zero
    // days are IMPLIED by the spacing), the same per-type bounded-array
    // fold family as ts_ses/ts_theta; a type with one demand day has no
    // interval estimate → NULL p and rate on both engines.
    "ts_croston" -> ((s, dir) => {
      def fold(arr: String) = expr(
        s"aggregate(slice($arr, 2, size($arr) - 1), element_at($arr, 1), " +
          "(acc, x) -> 0.3 * x + 0.7 * acc)")
      val daily = events(s, dir)
        .groupBy(col("event_type").as("et"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val h = daily.groupBy(col("et"))
        .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("h"))
        .withColumn("qs", expr("transform(h, r -> CAST(r.c AS DOUBLE))"))
        .withColumn("gaps", expr(
          """IF(size(h) < 2, CAST(NULL AS ARRAY<DOUBLE>),
               transform(sequence(2, size(h)),
                 k -> CAST(datediff(h[k-1].day, h[k-2].day) AS DOUBLE)))"""))
      h.select(col("et").as("event_type"),
          size(col("qs")).cast("long").as("n_demand_days"),
          round(fold("qs"), 6).as("z_level"),
          when(col("gaps").isNull, lit(null).cast("double"))
            .otherwise(round(fold("gaps"), 6)).as("p_interval"),
          when(col("gaps").isNull, lit(null).cast("double"))
            .otherwise(round(fold("qs") / fold("gaps"), 6)).as("demand_rate"))
        .orderBy(col("event_type"))
    }),

    // SHAPLEY-VALUE attribution over the three touch channels — the
    // game-theoretic member completing the attribution family (linear =
    // equal split, position = U-shape, time_decay = recency; Shapley is
    // the data-driven standard the others approximate): channels are
    // players, v(S) = conversion rate of users whose pre-purchase touch
    // set is EXACTLY S, and each channel's credit is the exact 3-player
    // Shapley sum of weighted marginal contributions. The whole game
    // lives on the 2³-set grain after one fact pass (touch flags before
    // the first purchase per user); missing coalitions contribute v = 0
    // via the nullif guard on both engines. The closed-form 1/3-1/6
    // weights are identical double trees.
    "attrib_shapley" -> ((s, dir) => {
      val e = events(s, dir)
      // the first-purchase frame feeds the touch filter AND the
      // conversion label — pin it so the events scan under it runs once
      val fp = persistShared("shapley_fp",
        e.filter(col("event_type") === "purchase")
          .groupBy(col("user_id")).agg(min(col("ts")).as("tp")))
      val flags = e.join(fp, Seq("user_id"), "left")
        .filter(col("event_type").isin("view", "click", "signup") &&
          (col("tp").isNull || col("ts") < col("tp")))
        .groupBy(col("user_id"))
        .agg(max((col("event_type") === "view").cast("int")).as("hv"),
          max((col("event_type") === "click").cast("int")).as("hc"),
          max((col("event_type") === "signup").cast("int")).as("hs"))
        .join(fp.select(col("user_id"), lit(1).as("cv")), Seq("user_id"), "left")
        .withColumn("conv", coalesce(col("cv"), lit(0)))
      val sets = flags.groupBy(col("hv"), col("hc"), col("hs"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("k"))
      def v(a: Int, b: Int, c: Int) = coalesce(
        max(when(col("hv") === a && col("hc") === b && col("hs") === c,
          col("k").cast("double") / col("n"))), lit(0.0))
      sets.agg(
          v(0, 0, 0).as("v000"), v(1, 0, 0).as("v100"), v(0, 1, 0).as("v010"),
          v(0, 0, 1).as("v001"), v(1, 1, 0).as("v110"), v(1, 0, 1).as("v101"),
          v(0, 1, 1).as("v011"), v(1, 1, 1).as("v111"))
        .select(
          round((col("v010") - col("v000")) / 3 + (col("v110") - col("v100")) / 6 +
            (col("v011") - col("v001")) / 6 + (col("v111") - col("v101")) / 3, 6)
            .as("pc"),
          round((col("v001") - col("v000")) / 3 + (col("v101") - col("v100")) / 6 +
            (col("v011") - col("v010")) / 6 + (col("v111") - col("v110")) / 3, 6)
            .as("ps"),
          round((col("v100") - col("v000")) / 3 + (col("v110") - col("v010")) / 6 +
            (col("v101") - col("v001")) / 6 + (col("v111") - col("v011")) / 3, 6)
            .as("pv"))
        .selectExpr(
          "stack(3, 'click', pc, 'signup', ps, 'view', pv) AS (channel, shapley)")
        .orderBy(col("channel"))
    }),

    // Holt's LINEAR-TREND forecast backtest per series — the third member
    // of the forecasting trio (ts_forecast_snaive: seasonal baseline,
    // ts_ses_forecast: level-only smoothing, this: level + trend, the
    // method that beats SES the moment a series drifts). (level, trend)
    // fold sequentially over the first 23 days (α = 0.3, β = 0.2, init
    // level = v₂, trend = v₂ − v₁) as a 2-element array accumulator —
    // ts_ewma's aggregate-HOF shape, state just widened to a pair; the
    // DuckDB twin threads the same pair through list_reduce by prepending
    // the init pair to a [value, 0] element list (its reduce takes the
    // first element as the seed). Forecast h-steps-ahead = level + h·trend
    // over the last 7 days; MAE over the hold-out. Same deterministic
    // in-row array order as ses (engine-identical doubles, no gridding);
    // same <24-day NULL hold-out guard; 23/7 split is fixture-calendar
    // bound like ses's.
    "ts_holt_forecast" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("et"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val h = daily.groupBy(col("et"))
        .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("h"))
        .select(col("et"),
          expr("transform(h, r -> CAST(r.c AS DOUBLE))").as("vs"))
      val lt = aggregate(expr("slice(vs, 3, 21)"),
        array(element_at(col("vs"), 2),
          element_at(col("vs"), 2) - element_at(col("vs"), 1)),
        (acc, x) => {
          val l = element_at(acc, 1)
          val tr = element_at(acc, 2)
          val lNew = lit(0.3) * x + lit(0.7) * (l + tr)
          array(lNew, lit(0.2) * (lNew - l) + lit(0.8) * tr)
        })
      val hv = h.withColumn("lt", lt)
      val lvl = element_at(col("lt"), 1)
      val trd = element_at(col("lt"), 2)
      val errs = expr("transform(sequence(1, 7), " +
        "hh -> abs(element_at(vs, 23 + hh) - (lt[0] + hh * lt[1])))")
      hv.select(col("et").as("event_type"),
          size(col("vs")).cast("long").as("n_days"),
          round(lvl, 6).as("level"),
          round(trd, 6).as("trend"),
          when(size(col("vs")) < 24, lit(null).cast("double"))
            .otherwise(round(aggregate(errs, lit(0.0), (a, x) => a + x) / 7, 6))
            .as("mae_7d"))
        .orderBy(col("event_type"))
    }),

    // Additive Holt–Winters (α=0.3, β=0.2, γ=0.2, weekly period) per
    // event series — the SEASONAL member completing the exponential
    // family: ses smooths level, holt adds trend, this adds the 7-day
    // cycle snaive/seasonal_decompose observe but don't smooth. Init
    // from the first fortnight (level = week-1 mean, trend = (week-2
    // mean − week-1 mean)/7, seasonals = week-1 residuals), then ONE
    // sequential 9-element array fold over the remaining days
    // (ts_kalman_1d's state fold widened; the DuckDB twin threads the
    // same 9-list through list_reduce via the prepended-init trick).
    // The seasonal block ROTATES inside the fold (s2..s7 slide forward,
    // the refreshed s1 appends) so each step faces its own weekday's
    // seasonal and the post-fold state's s-slot 1 is already tomorrow's.
    // Deterministic in-row array order — engine-identical doubles, no
    // gridding; series shorter than the init fortnight yield NULL on
    // both engines (the ts_ses_forecast hold-out guard discipline).
    "ts_holt_winters" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("et"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val h = daily.groupBy(col("et"))
        .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("h"))
        .select(col("et"),
          expr("transform(h, r -> CAST(r.c AS DOUBLE))").as("vs"))
      val l0 = aggregate(expr("slice(vs, 1, 7)"), lit(0.0), _ + _) / 7.0
      val m2 = aggregate(expr("slice(vs, 8, 7)"), lit(0.0), _ + _) / 7.0
      val init = concat(array(l0, (m2 - l0) / 7.0),
        transform(expr("slice(vs, 1, 7)"), x => x - l0))
      val st = aggregate(expr("slice(vs, 8, greatest(size(vs) - 7, 0))"),
        init,
        (acc, x) => {
          val l = element_at(acc, 1); val b = element_at(acc, 2)
          val s1 = element_at(acc, 3)
          val lNew = lit(0.3) * (x - s1) + lit(0.7) * (l + b)
          val bNew = lit(0.2) * (lNew - l) + lit(0.8) * b
          val sNew = lit(0.2) * (x - lNew) + lit(0.8) * s1
          concat(array(lNew, bNew), slice(acc, 4, 6), array(sNew))
        })
      val hv = h.withColumn("st", st)
      def guarded(c: org.apache.spark.sql.Column) =
        when(size(col("vs")) < 15, lit(null).cast("double")).otherwise(c)
      hv.select(col("et").as("event_type"),
          size(col("vs")).cast("long").as("n_days"),
          guarded(round(element_at(col("st"), 1), 6)).as("level"),
          guarded(round(element_at(col("st"), 2), 6)).as("trend"),
          guarded(round(element_at(col("st"), 3), 6)).as("season_next"),
          guarded(round(element_at(col("st"), 1) + element_at(col("st"), 2) +
            element_at(col("st"), 3), 6)).as("forecast_1"))
        .orderBy(col("event_type"))
    }),

    // Daily new-user counts + CUMULATIVE DISTINCT users — the growth
    // curve every analytics stack draws, and the classic scale trap: a
    // naive running count-distinct window holds per-day state
    // proportional to the user universe. The first-touch reduction
    // dissolves it — distinct-by-day ≡ "users whose FIRST event is ≤
    // day", so one fact-grain min-agg per user + a calendar-bounded
    // running sum replaces any stateful distinct. Exact integers.
    "ts_cumulative_distinct" -> ((s, dir) => {
      val firstSeen = events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(min(col("ts").cast("date")).as("day"))
      val daily = firstSeen.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n_new_users"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      daily.withColumn("cum_distinct_users", sum(col("n_new_users")).over(w))
        .orderBy(col("event_type"), col("day"))
    }),

    // Rolling 7-day EXACT distinct users per day — the windowed-distinct
    // Spark windows cannot express (COUNT DISTINCT OVER is unsupported
    // — and at 100 TB per-window re-scans would be quadratic): each
    // active (user, day) replicates onto its ≤7 trailing report days
    // (a BOUNDED ×7 explode at the user-day grain, not the event
    // grain), then one exact distinct rollup per report day. The
    // calendar clips the first week's partial windows honestly
    // (window_days < 7 flags them).
    "ts_rolling_distinct" -> ((s, dir) => {
      val ud = persistShared("rd7_ud", events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .distinct())
      val bounds = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      ud.crossJoin(broadcast(bounds))
        .select(col("user_id"),
          explode(expr("sequence(day, least(date_add(day, 6), d1))"))
            .as("rday"))
        .groupBy(col("rday"))
        .agg(countDistinct(col("user_id")).as("distinct_users_7d"))
        .crossJoin(broadcast(bounds))
        .select(col("rday").as("day"), col("distinct_users_7d"),
          least(datediff(col("rday"), col("d0")) + 1, lit(7)).as("window_days"))
        .orderBy(col("day"))
    }),

    // 1-D Kalman filter (local-level model, Q = 1, R = 4) per event
    // series — the probabilistic smoother beside ts_ewma/ses/holt: same
    // exponential-forgetting family but the gain ADAPTS (starts high
    // while the state is uncertain, settles to the steady-state Q/R
    // ratio) and the posterior variance comes out with the estimate.
    // (estimate, variance, Σ|innovation|) folds sequentially as a
    // 3-element array accumulator (ts_holt_forecast's pair-state shape
    // widened); the DuckDB twin threads the same triple through
    // list_reduce via the prepended-init trick. Deterministic in-row
    // array order — engine-identical doubles, no gridding.
    "ts_kalman_1d" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("et"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val h = daily.groupBy(col("et"))
        .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("h"))
        .select(col("et"),
          expr("transform(h, r -> CAST(r.c AS DOUBLE))").as("vs"))
      val st = aggregate(expr("slice(vs, 2, size(vs) - 1)"),
        array(element_at(col("vs"), 1), lit(1.0), lit(0.0)),
        (acc, z) => {
          val x = element_at(acc, 1)
          val p = element_at(acc, 2)
          val sae = element_at(acc, 3)
          val pp = p + lit(1.0)
          val k = pp / (pp + lit(4.0))
          array(x + k * (z - x), (lit(1.0) - k) * pp, sae + abs(z - x))
        })
      h.withColumn("st", st)
        .select(col("et").as("event_type"),
          size(col("vs")).cast("long").as("n_days"),
          round(element_at(col("st"), 1), 6).as("estimate"),
          round(element_at(col("st"), 2), 6).as("p_var"),
          round(element_at(col("st"), 3) / (size(col("vs")) - 1), 6)
            .as("innovation_mae"))
        .orderBy(col("event_type"))
    }),

    // EWM volatility (α = 0.3) per event series — the RiskMetrics-style
    // exponentially-weighted variance beside ts_ewma's mean and
    // ts_kalman_1d's adaptive filter: m' = m + α·d, v' = (1−α)(v + α·d²)
    // — the standard "how noisy is this metric RIGHT NOW" feature for
    // alerting thresholds that must forget old regimes. Same sequential
    // array-fold shape as kalman (pair state, deterministic in-row
    // order, engine-identical doubles); day-grain input after one
    // fact-sized rollup.
    "ts_ewm_volatility" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("et"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val h = daily.groupBy(col("et"))
        .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("h"))
        .select(col("et"),
          expr("transform(h, r -> CAST(r.c AS DOUBLE))").as("vs"))
      val st = aggregate(expr("slice(vs, 2, size(vs) - 1)"),
        array(element_at(col("vs"), 1), lit(0.0)),
        (acc, z) => {
          val m = element_at(acc, 1)
          val v = element_at(acc, 2)
          array(m + lit(0.3) * (z - m),
            lit(0.7) * (v + lit(0.3) * (z - m) * (z - m)))
        })
      h.withColumn("st", st)
        .select(col("et").as("event_type"),
          size(col("vs")).cast("long").as("n_days"),
          round(element_at(col("st"), 1), 6).as("ewm_mean"),
          round(element_at(col("st"), 2), 6).as("ewm_var"),
          round(sqrt(element_at(col("st"), 2)), 6).as("ewm_vol"))
        .orderBy(col("event_type"))
    }),

    // Dynamic Time Warping distance between every pair of event-series
    // — THE shape-similarity measure when two series drift out of phase
    // (Euclidean punishes a one-day lag; DTW aligns it): full 30×30
    // integer DP as a nested sequential fold (row state carried as a
    // bigint array, |x−y| costs and min-of-three all EXACT integers —
    // no float ever enters the table, so the oracle is bit-for-bit).
    // The pair frame is |types|²-bounded (whitelisted); the only
    // fact-scale work is ONE day-grain rollup. The boundary sentinel
    // (10¹²) exceeds any reachable path cost yet cannot overflow.
    "ts_dtw_distance" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("et"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val h = daily.groupBy(col("et"))
        .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("h"))
        .select(col("et"), expr("transform(h, r -> r.c)").as("vs"))
      h.as("a").join(h.as("b"), col("a.et") < col("b.et"))
        .select(col("a.et").as("et_a"), col("b.et").as("et_b"),
          expr("size(a.vs)").cast("long").as("n_a"),
          expr("size(b.vs)").cast("long").as("n_b"),
          expr("""aggregate(a.vs,
              concat(array(CAST(0 AS BIGINT)),
                     transform(b.vs, y -> CAST(1000000000000 AS BIGINT))),
              (prev, x) -> aggregate(b.vs,
                array(CAST(1000000000000 AS BIGINT)),
                (acc, y) -> array_append(acc,
                  abs(x - y) + least(element_at(prev, size(acc)),
                                     element_at(prev, size(acc) + 1),
                                     element_at(acc, size(acc))))),
              pr -> element_at(pr, size(b.vs) + 1))""").as("dtw"))
        .withColumn("dtw_norm",
          round(col("dtw").cast("double") / (col("n_a") + col("n_b")), 6))
        .orderBy(col("et_a"), col("et_b"))
    }),

    // Matrix profile (m=7, un-normalized integer distance) per event
    // series — the all-subsequence nearest-neighbor that finds MOTIFS
    // (low profile: a repeated weekly shape) and DISCORDS (high
    // profile: the anomalous week) in one artifact. Subsequence pairs
    // are bounded per series (≤24² with the |i−j| ≥ 4 trivial-match
    // exclusion zone); each distance is an exact integer zip-fold, the
    // nearest neighbor a (dist, j) rank pick — bit-exact oracle, no
    // z-normalization floats. The windows frame is persisted: the
    // self-join must not replay the fact rollup.
    "ts_matrix_profile" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("et"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val wins = persistShared("mp_windows", daily.groupBy(col("et"))
        .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("h"))
        .select(col("et"), expr("transform(h, r -> r.c)").as("vs"))
        .select(col("et"),
          explode(expr("sequence(1, size(vs) - 6)")).as("i"),
          col("vs"))
        .select(col("et"), col("i"), expr("slice(vs, i, 7)").as("sub")))
      val d = wins.as("a").join(wins.as("b"),
          col("a.et") === col("b.et") &&
            abs(col("a.i") - col("b.i")) >= 4)
        .select(col("a.et").as("et"), col("a.i").as("i"), col("b.i").as("j"),
          expr("""aggregate(zip_with(a.sub, b.sub, (x, y) -> (x - y) * (x - y)),
                 CAST(0 AS BIGINT), (acc, v) -> acc + v)""").as("d2"))
      d.withColumn("rk", row_number().over(Window.partitionBy(col("et"), col("i"))
          .orderBy(col("d2"), col("j"))))
        .filter(col("rk") === 1)
        .select(col("et").as("event_type"), col("i"), col("d2").as("nn_dist2"),
          col("j").as("nn_idx"))
        .orderBy(col("event_type"), col("i"))
    }),

    // Time-to-convert distribution (first view → first subsequent
    // purchase) — the latency companion to seq_funnel's stage counts:
    // how LONG the funnel takes, as exact rank order statistics
    // (min/median/p90/max) over integer microsecond deltas — no
    // interpolated percentiles, stat_levene's lower-median discipline.
    // Two fact-grain aggs (first view per user, first conversion per
    // user) shuffle by user; the conversion frame is user-grain, which
    // scales WITH the fact, so the exact rank goes through DistRank's
    // two-phase shape (no single-partition window on a user-grain frame).
    "seq_funnel_time" -> ((s, dir) => {
      val e = events(s, dir)
      val fv = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("tv"))
      val conv = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("tp"))
        .join(fv, Seq("user_id"))
        .filter(col("tp") > col("tv"))
        .groupBy(col("user_id"))
        .agg((min(unix_micros(col("tp"))) - max(unix_micros(col("tv"))))
          .as("du"))
      DistRank.withRank(conv, Seq(col("du"), col("user_id")),
          rnName = "rn", nName = Some("n"))
        .agg(max(col("n")).as("n_converted"),
          round(min(col("du")) / 1000000.0, 6).as("min_s"),
          round(max(when(col("rn") === expr("(n + 1) div 2"), col("du")))
            / 1000000.0, 6).as("p50_s"),
          round(max(when(col("rn") === expr("(9 * n + 9) div 10"), col("du")))
            / 1000000.0, 6).as("p90_s"),
          round(max(col("du")) / 1000000.0, 6).as("max_s"))
    }),

    // Inter-purchase cadence — seq_funnel_time's repeat-purchase sibling
    // (that measures first view → first purchase; this measures purchase
    // → NEXT purchase, the replenishment-cycle signal behind churn and
    // send-time models): per-user consecutive purchase gaps via one lag
    // window over the purchase-only slice (ordered by the unique
    // (ts, event_id) total order), exact integer-µs deltas, summary as
    // exact rank order statistics (no interpolated percentiles — the
    // stat_levene lower-median discipline). The gap frame scales with
    // the fact (one row per repeat purchase), so the exact rank goes
    // through DistRank's two-phase shape, never one partition.
    "seq_interpurchase_stats" -> ((s, dir) => {
      val p = events(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tu"))
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("tu"), col("event_id"))
      val gaps = p.withColumn("prev", lag(col("tu"), 1).over(wU))
        .filter(col("prev").isNotNull)
        .select(col("user_id"), (col("tu") - col("prev")).as("du"))
      DistRank.withRank(gaps, Seq(col("du"), col("user_id")),
          rnName = "rn", nName = Some("n"))
        .agg(max(col("n")).as("n_gaps"),
          countDistinct(col("user_id")).as("n_repeat_users"),
          round(min(col("du")) / 1000000.0, 6).as("min_s"),
          round(max(when(col("rn") === expr("(n + 1) div 2"), col("du")))
            / 1000000.0, 6).as("p50_s"),
          round(max(when(col("rn") === expr("(9 * n + 9) div 10"), col("du")))
            / 1000000.0, 6).as("p90_s"),
          round(max(col("du")) / 1000000.0, 6).as("max_s"))
    }),

    // Inactivity-based churn labeling — the label generator every churn
    // model trains on: per-user last-activity day vs the corpus horizon
    // (max day), churned = inactive > 7 days at the horizon. One
    // fact-sized groupBy to the user grain; the horizon is a 1-row
    // broadcast crossJoin (bounded by construction). Integer day math
    // end to end — no float anywhere, nothing to grid. Emits the
    // per-user label frame (user grain ≪ fact) for downstream joins.
    "seq_churn_label" -> ((s, dir) => {
      val ev = persistShared("churn_ev", events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("day")))
      val perUser = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), max(col("day")).as("last_day"))
      val horizon = ev.agg(max(col("day")).as("h_day"))
      perUser.crossJoin(broadcast(horizon))
        .select(col("user_id"), col("n_events"), col("last_day"),
          datediff(col("h_day"), col("last_day")).as("days_inactive"),
          when(datediff(col("h_day"), col("last_day")) > 7, 1).otherwise(0)
            .as("churned"))
        .orderBy(col("user_id"))
    }),

    // Kaplan–Meier time-to-conversion curve — the censoring-aware
    // "how long until a user first purchases" estimate a naive
    // mean-days-to-convert systematically biases (users who HAVEN'T
    // converted yet aren't failures, they're CENSORED at the horizon;
    // dropping them overstates conversion speed): event = first purchase
    // at t = days since first activity; censoring time = horizon − first
    // activity for never-purchasers. Risk sets by suffix-sum over the
    // calendar-bounded t grain (total − prefix — no fact-sized window),
    // S(t) = Π(1 − d/n) computed as exp of the DECIMAL-cumsum of
    // 9-dp-gridded ln terms (the product is order-sensitive; the gridded
    // log-sum isn't). One fact pass to the user grain; day-grain after.
    "seq_survival_km" -> ((s, dir) => {
      val ev = persistShared("km_ev", events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("day"),
          col("event_type")))
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("first_day"),
          min(when(col("event_type") === "purchase", col("day")))
            .as("first_purchase"))
      val horizon = ev.agg(max(col("day")).as("h_day"))
      val lives = perUser.crossJoin(broadcast(horizon))
        .select(
          when(col("first_purchase").isNotNull,
            datediff(col("first_purchase"), col("first_day")))
            .otherwise(datediff(col("h_day"), col("first_day"))).as("t"),
          when(col("first_purchase").isNotNull, 0L).otherwise(1L)
            .as("censored"))
      val byT = lives.groupBy(col("t"))
        .agg(count(lit(1)).as("n_t"),
          sum(lit(1L) - col("censored")).as("d_t"))
      val wSuf = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = byT.agg(sum(col("n_t")).as("n_total"))
      byT.crossJoin(broadcast(tot))
        .withColumn("n_risk", col("n_total") - coalesce(sum(col("n_t")).over(wSuf), lit(0L)))
        // greatest(·, 1e-12) keeps the final all-deaths row finite (ln 0
        // would NaN the DECIMAL grid); exp(≤ −27.6) still rounds to the
        // correct S = 0 on both engines
        .withColumn("lnterm", dec(round(
          log(greatest(lit(1.0) - col("d_t").cast("double") / col("n_risk"),
            lit(1e-12))), 9), 9))
        .withColumn("survival",
          round(exp(sum(col("lnterm")).over(wCum).cast("double")), 6))
        .filter(col("d_t") > 0)
        .select(col("t").as("t_days"), col("n_risk"), col("d_t").as("n_events"),
          col("survival"))
        .orderBy(col("t_days"))
    }),

    // Repeat-purchase depth curve — "what share of buyers come back a
    // k-th time?" (THE retention-economics read: LTV models hang off
    // exactly this decay; seq_survival_km times the FIRST conversion,
    // this counts depth): per-user purchase counts in one fact pass,
    // explode against the constant depth array (threshold-sweep
    // pattern), share of k≥1 buyers reaching each depth. Exact integer
    // counts, one division per row of a 5-row output.
    "seq_repeat_purchase_curve" -> ((s, dir) => {
      val perUser = events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(count(lit(1)).as("k"))
      val base = perUser.agg(count(lit(1)).as("n_buyers"))
      perUser.withColumn("depth", explode(typedlit(Seq(1, 2, 3, 5, 10))))
        .groupBy(col("depth"))
        .agg(sum(when(col("k") >= col("depth"), 1L).otherwise(0L)).as("n_users"))
        .crossJoin(broadcast(base))
        .select(col("depth"), col("n_users"),
          round(col("n_users").cast("double") / col("n_buyers"), 6).as("share"))
        .orderBy(col("depth"))
    }),

    // DAU/MAU stickiness per day — THE engagement-health ratio (what
    // share of the month's audience shows up daily): day-grain DAU and
    // month-grain MAU are two exact distinct rollups of the same
    // (user, day) frame; the ratio is one gridded division. The
    // user-day frame is persisted (feeds both grains — scan lint);
    // everything after the first rollup is calendar-bounded.
    "seq_stickiness" -> ((s, dir) => {
      val ud = persistShared("stick_ud", events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .distinct())
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val mau = ud
        .select(date_trunc("month", col("day")).cast("date").as("mon"), col("user_id"))
        .distinct()
        .groupBy(col("mon")).agg(count(lit(1)).as("mau"))
      dau.withColumn("mon", date_trunc("month", col("day")).cast("date"))
        .join(mau, Seq("mon"))
        .select(col("day"), col("dau"), col("mau"),
          round(col("dau").cast("double") / col("mau"), 6).as("stickiness"))
        .orderBy(col("day"))
    }),

    // Resurrected users per day — the third leg of the DAU decomposition
    // (new + returning + RESURRECTED after a ≥14-day absence; growth
    // accounting splits them because a resurrection says the win-back
    // worked, not acquisition): one lag window over the persisted
    // (user, day) frame, then a day rollup. Integer day gaps, no floats.
    // Daily OHLC (open/high/low/close + volume) per event series — the
    // financial-standard bar rollup (and the general "first/last value
    // in period" idiom, which naive formulations buy with two rank
    // windows): ONE hash aggregation per (type, day) using min_by /
    // max_by keyed on the (ts, event_id) struct — the composite key
    // makes the open/close picks deterministic under timestamp ties on
    // both engines (lexicographic struct/list ordering), high/low are
    // plain extremes on the 6-dp-rounded values, and there is no window
    // or shuffle beyond the rollup itself. Map-side combinable at any
    // scale.
    "ts_ohlc" -> ((s, dir) => {
      // composite pick key as ONE int64 (DuckDB's arg_min takes no
      // struct/list key): µs-of-day · 10⁷ + event_id — exact and
      // strictly ordered within any (type, day) group through ~10⁷
      // events/id-space (8.64e10·10⁷ + id < 2⁶³)
      val e = events(s, dir).select(col("event_type"),
        col("ts").cast("date").as("day"),
        expr("(unix_micros(ts) % 86400000000) * 10000000 + event_id")
          .as("pick"),
        round(col("value"), 6).as("v"))
      e.groupBy(col("event_type"), col("day"))
        .agg(
          min_by(col("v"), col("pick")).as("open"),
          max(col("v")).as("high"),
          min(col("v")).as("low"),
          max_by(col("v"), col("pick")).as("close"),
          count(lit(1)).as("volume"))
        .orderBy(col("event_type"), col("day"))
    }),

    // Lifecycle-stage snapshot — the user-base composition number a
    // weekly business review opens with (how many of our users are new /
    // active / cooling / at-risk / churned AS OF the corpus horizon):
    // one user-grain min/max rollup, recency and tenure against the
    // broadcast horizon, fixed integer day-band CASE (bands sized to the
    // 30-day fixture calendar, noted like ts_ses_forecast's 23/7 split:
    // new = joined in the last 2 days of the window, then recency bands
    // 1/2/3), stage-grain counts + exact-integer average recency/tenure.
    // The fact is touched once; everything after is user-grain then
    // 5-row.
    "seq_lifecycle_stages" -> ((s, dir) => {
      val ud = events(s, dir).groupBy(col("user_id"))
        .agg(min(col("ts").cast("date")).as("first_day"),
          max(col("ts").cast("date")).as("last_day"))
      val horizon = ud.agg(max(col("last_day")).as("h"))
      ud.crossJoin(broadcast(horizon))
        .withColumn("rec", datediff(col("h"), col("last_day")))
        .withColumn("ten", datediff(col("h"), col("first_day")))
        .withColumn("stage",
          when(col("ten") < 28, "new")
            .when(col("rec") < 1, "active")
            .when(col("rec") < 2, "cooling")
            .when(col("rec") < 3, "at_risk")
            .otherwise("churned"))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_users"),
          round(sum(col("rec")).cast("double") / count(lit(1)), 6)
            .as("avg_recency_days"),
          round(sum(col("ten")).cast("double") / count(lit(1)), 6)
            .as("avg_tenure_days"))
        .orderBy(col("stage"))
    }),

    // Trailing activity-streak distribution — the retention feature
    // every engagement product ships (the "don't break the chain" number)
    // and seq_islands' OPERATIONAL projection: only the island that ends
    // at each user's LAST active day matters. Classic gap-and-island
    // grouping key (day − row_number is constant exactly on consecutive
    // runs), then max_by(len, last_day) picks the trailing island per
    // user WITHOUT a second window (last_day is unique across a user's
    // islands, so the pick can't tie), and the rollup is calendar-
    // bounded (≤ span days distinct lengths). User-partitioned windows
    // — the 100 TB shape.
    "seq_current_streak" -> ((s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
      val r = ud.withColumn("grp", expr(
        "date_sub(day, row_number() OVER (PARTITION BY user_id ORDER BY day))"))
      val isl = r.groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"), max(col("day")).as("last_day"))
      val cur = isl.groupBy(col("user_id"))
        .agg(max_by(col("len"), col("last_day")).as("streak"))
      cur.groupBy(col("streak").as("streak_len"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("streak_len"))
    }),

    "seq_resurrected" -> ((s, dir) => {
      val ud = persistShared("res_ud", events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .distinct())
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      ud.withColumn("prev_day", lag(col("day"), 1).over(w))
        .withColumn("gap", datediff(col("day"), col("prev_day")))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("active_users"),
          count(when(col("gap") >= 14, 1)).as("resurrected"),
          coalesce(round(sum(col("gap")).cast("double") /
            count(col("gap")), 6), lit(0.0)).as("avg_gap_days"))
        .orderBy(col("day"))
    }),

    // New-vs-returning daily split — the acquisition/retention decomposition
    // of DAU (seq_stickiness says HOW MANY show up; this says WHO they
    // are): first-touch day per user from the same persisted (user, day)
    // frame, then one day rollup classifying each active user-day
    // against it. The user-grain first-touch joins back on the key —
    // co-partitioned, no second fact pass; all counts integer-exact.
    "seq_new_vs_returning" -> ((s, dir) => {
      val ud = persistShared("nvr_ud", events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .distinct())
      val first = ud.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      ud.join(first, Seq("user_id"))
        .groupBy(col("day"))
        .agg(count(when(col("day") === col("first_day"), 1)).as("new_users"),
          count(when(col("day") > col("first_day"), 1)).as("returning_users"))
        .select(col("day"), col("new_users"), col("returning_users"),
          round(col("returning_users").cast("double") /
            (col("new_users") + col("returning_users")), 6).as("returning_share"))
        .orderBy(col("day"))
    }),

    // Cohort LTV curve — cumulative revenue per customer by cohort age
    // (cohort = first-order month), THE lifetime-value readout every
    // growth team tracks: one fact rollup to (customer, month, cents),
    // a customer-grain cohort frame co-partition-joined back on the key,
    // then the (cohort, age) grid (calendar² — tiny at any scale) with a
    // prefix window per cohort. Exact integer cents throughout; the only
    // division is the final per-user LTV, 6-dp-gridded. Age is integer
    // calendar months (fn_interval's engine-neutral convention).
    "seq_cohort_ltv" -> ((s, dir) => {
      val o = persistShared("ltv_orders", t(s, dir, "orders")
        .select(col("o_custkey"),
          date_trunc("month", col("o_orderdate")).cast("date").as("mon"),
          expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents")))
      val cohort = persistShared("ltv_cohort",
        o.groupBy(col("o_custkey")).agg(min(col("mon")).as("cohort")))
      val grid = o.join(cohort, Seq("o_custkey"))
        .withColumn("age", (year(col("mon")) - year(col("cohort"))) * 12 +
          (month(col("mon")) - month(col("cohort"))))
        .groupBy(col("cohort"), col("age"))
        .agg(countDistinct(col("o_custkey")).as("n_active"),
          sum(col("cents")).as("cents"))
      val sizes = cohort.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_size"))
      val w = Window.partitionBy(col("cohort")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.join(sizes, Seq("cohort"))
        .withColumn("cum_cents", sum(col("cents")).over(w))
        .select(col("cohort"), col("age"), col("n_active"), col("cents"),
          col("cum_cents"), col("cohort_size"),
          round(col("cum_cents").cast("double") / (col("cohort_size") * 100.0), 6)
            .as("ltv_per_user"))
        .orderBy(col("cohort"), col("age"))
    }),

    // RFM segmentation — THE classic customer-value scoring (recency ×
    // frequency × monetary quintiles, the workhorse behind lifecycle
    // campaigns and LTV priors): one fact-sized rollup to the customer
    // grain (exact integer cents, day-precision recency vs the 1-row
    // broadcast horizon), then three ntile(5) quintiles over UNIQUE total
    // orders ((metric, custkey) — quintile boundaries deterministic on
    // both engines). The customer grain scales WITH the fact (~15 B at
    // TPC-H 100 TB), so no native single-partition ntile window: each
    // quintile is a chained DistRank two-phase rank plus the SQL-standard
    // ntile-from-(rank, n) formula (DistRank.ntileOf — identical bucket
    // rule to Spark's NTile and DuckDB's ntile, so the native-ntile
    // oracle keeps matching bit-for-bit).
    "seq_rfm_scores" -> ((s, dir) => {
      val o = persistShared("rfm_orders", t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate").cast("date").as("day"),
          expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents")))
      val per = o.groupBy(col("o_custkey"))
        .agg(max(col("day")).as("last_day"),
          count(lit(1)).as("frequency"),
          sum(col("cents")).as("monetary_cents"))
      val horizon = o.agg(max(col("day")).as("h_day"))
      val base = per.crossJoin(broadcast(horizon))
        .withColumn("recency_days", datediff(col("h_day"), col("last_day")))
      val r1 = DistRank.withRank(base,
        Seq(col("recency_days").desc, col("o_custkey")), "r_rn", Some("nn"))
      val r2 = DistRank.withRank(r1,
        Seq(col("frequency"), col("o_custkey")), "f_rn")
      val r3 = DistRank.withRank(r2,
        Seq(col("monetary_cents"), col("o_custkey")), "m_rn")
      r3
        .withColumn("r_score", DistRank.ntileOf(col("r_rn"), col("nn"), 5).cast("int"))
        .withColumn("f_score", DistRank.ntileOf(col("f_rn"), col("nn"), 5).cast("int"))
        .withColumn("m_score", DistRank.ntileOf(col("m_rn"), col("nn"), 5).cast("int"))
        .select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("monetary_cents"), col("r_score"), col("f_score"), col("m_score"),
          (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
            .as("rfm"))
        .orderBy(col("o_custkey"))
    }),

    // First-order Markov transition matrix over per-user event sequences
    // (the model behind next-action prediction and session simulation):
    // one lead() window per user (ordered by the unique (ts, event_id)
    // total order — duplicate timestamps can't make adjacency
    // engine-ambiguous), adjacent pairs counted, probabilities normalized
    // per source state by a state-grain window. The fact is shuffled
    // exactly once (by user for the sequence window); the (prev,next)
    // count frame is |states|² — constant-sized at any event volume.
    "seq_markov_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      pairs
        .withColumn("p", round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("prev_type"))), 6))
        .orderBy(col("prev_type"), col("next_type"))
    }),

    // Stationary distribution of the behavior Markov chain — "where does
    // a user's session settle long-run?" (seq_markov_transitions gives
    // the one-step matrix; the steady state is what capacity planning
    // and next-event priors actually consume). Five unrolled power-
    // iteration rounds over the state-catalog-bounded matrix (graph_
    // pagerank's replayed-rounds discipline): uniform start, each round
    // π'(j) = Σ π(i)·p(i,j) + D/|states| where D is the mass sitting on
    // DANGLING states (successor-only, no outgoing transitions —
    // pagerank's uniform-redistribution treatment, ADVICE r13: the
    // previous join-only round silently dropped that mass, so π need
    // not sum to 1 on data with absorbing states). Per-term 12-dp
    // DECIMAL gridding keeps the ≤|states| partial sums order-free;
    // final 6-dp publish. The state domain is prev ∪ next, so
    // successor-only states now carry rank instead of vanishing. Every
    // frame is |states|-bounded — the only fact-sized work is the one
    // transition-count rollup.
    "seq_markov_stationary" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = persistShared("markov_pairs", events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n")))
      val p = pairs.withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("prev_type"))))
      val states = pairs.select(col("prev_type").as("st"))
        .unionByName(pairs.select(col("next_type").as("st"))).distinct()
      // the (st, ns) state-domain frame joins into EVERY round — pinned
      // once so its pairs-derived subtree never replays (the 8-replay
      // lint caught an unpinned per-round domain at x314)
      val k = states.crossJoin(broadcast(states.agg(count(lit(1)).as("ns"))))
        .transform(RoundPin.pin)
      var pi = k.select(col("st"), col("ns"), (lit(1.0) / col("ns")).as("rank"))
      for (_ <- 1 to 5) {
        // ONE pass over pi per round, and ONE reference to its output:
        // rows of p sum to 1 per source state, so Σ_j contrib(j) =
        // Σ_{i has outgoing} π(i) and the dangling mass is dm = 1 − that
        // sum (π sums to 1 by construction every round) — computed as an
        // un-partitioned window over the ≤|types| joined rows (bounded
        // grain, whitelisted) instead of a second pi branch. The whole
        // 5-round recursion stays ONE lazy plan — no per-round action.
        val contrib = pi.join(p, col("st") === col("prev_type"))
          .groupBy(col("next_type"))
          .agg(sum(dec(round(col("rank") * col("p"), 12), 12)).cast("double")
            .as("contrib"))
          .select(col("next_type").as("st"), col("contrib"))
        pi = k.join(contrib, Seq("st"), "left")
          .withColumn("c", coalesce(col("contrib"), lit(0.0)))
          .withColumn("dm", lit(1.0) -
            sum(dec(round(col("c"), 12), 12)).over(Window.partitionBy())
              .cast("double"))
          .select(col("st"), col("ns"),
            (col("c") + col("dm") / col("ns")).as("rank"))
      }
      pi.select(col("st").as("state"), round(col("rank"), 6).as("pi"))
        .orderBy(col("state"))
    }),

    // Directed-graph reciprocity over the session-transition graph —
    // "is the flow a cycle or a funnel": share of a→b edges whose b→a
    // twin exists, plus the weighted form Σmin(w_ab,w_ba)/Σw. The
    // fact-scale work is ONE per-user lead window (markov's shape); the
    // edge frame is |types|²-bounded (≤25 rows) and persisted so the
    // reversed-pair self-join replays nothing — at 100 TB reciprocity
    // is a dim-sized join over an already-aggregated edge list.
    "graph_reciprocity" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val e = persistShared("recip_edges", events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull &&
          col("next_type") =!= col("event_type"))
        .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
        .agg(count(lit(1)).as("n_f")))
      e.as("a").join(e.as("b"),
          col("a.src") === col("b.dst") && col("a.dst") === col("b.src"), "left")
        .agg(count(lit(1)).as("n_edges"),
          count(col("b.n_f")).as("n_recip"),
          sum(col("a.n_f")).as("w_total"),
          coalesce(sum(least(col("a.n_f"), col("b.n_f"))), lit(0L)).as("w_recip"))
        .select(col("n_edges"), col("n_recip"), col("w_total"), col("w_recip"),
          round(col("n_recip").cast("double") / col("n_edges"), 6)
            .as("reciprocity"),
          round(col("w_recip").cast("double") / col("w_total"), 6)
            .as("w_reciprocity"))
    }),

    // Cohort retention matrix — the classic triangle every growth
    // dashboard opens with (cohort = first-active day, columns = days
    // since, cell = share of the cohort active that day): one fact pass
    // to the DISTINCT (user, day) grain, a user-grain min for the
    // cohort day, cohort sizes and the activity rollup both
    // cohort-grain. At 100 TB the only fact-sized step is the first
    // distinct (shuffle on user_id); everything after is user-grain or
    // smaller, and the published matrix is |days|·8 rows. Day offsets
    // capped at 7 (the week-one retention curve).
    "seq_retention_matrix" -> ((s, dir) => {
      val ud = persistShared("retention_user_days", events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("d")).distinct())
      val cohorts = persistShared("retention_cohorts",
        ud.groupBy(col("user_id")).agg(min(col("d")).as("cd")))
      val sizes = cohorts.groupBy(col("cd")).agg(count(lit(1)).as("n_users"))
      ud.join(cohorts, "user_id")
        .withColumn("day_offset", datediff(col("d"), col("cd")))
        .filter(col("day_offset") <= 7)
        .groupBy(col("cd"), col("day_offset"))
        .agg(count(lit(1)).as("n_active"))
        .join(sizes, "cd")
        .select(col("cd").cast("string").as("cohort_day"),
          col("day_offset"), col("n_active"),
          round(col("n_active").cast("double") / col("n_users"), 6)
            .as("retention"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // top onboarding paths — "what do users actually do first": the
    // ordered first-3-event-type sequence per user, counted and ranked.
    // seq_markov_transitions gives the memoryless edge view; this is the
    // path-grain complement product teams actually read. One window sort
    // per user partition (rn ≤ 3 prunes the rest map-side), first/2nd/3rd
    // states extracted by conditional aggs — no collect_list ordering
    // hazards — then a path-grain hash agg over at most |types|³ keys
    // (constant at any event volume) and a total-order top-10.
    "seq_path_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          max(when(col("rn") === 1, col("event_type"))).as("e1"),
          max(when(col("rn") === 2, col("event_type"))).as("e2"),
          max(when(col("rn") === 3, col("event_type"))).as("e3"))
        .filter(col("n") === 3)
        .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path")).limit(10)
    }),

    // linear multi-touch attribution — the aggregate dual of the bounded
    // as-of join: instead of crediting only the LATEST prior view, each
    // purchase splits one unit of credit equally across ALL its views in
    // the prior 30 minutes, and credits sum per view. One range join
    // (pair expansion capped by the attribution window, like
    // join_asof_tolerance) + two hash aggs. The per-touch credit 1/n
    // passes through an exact DECIMAL(18,12) cast before the per-view sum
    // so parallel partial aggregation cannot perturb the 6-dp rounding.
    "attrib_linear" -> ((s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
          col("ts").as("v_ts"))
      // per-conversion touch count as a WINDOW over the p_id partition —
      // the agg+self-join formulation re-executed the whole range-join
      // subtree twice (the corpus_token_budget defect class; PlanSpec
      // lints it) and cost an extra shuffle besides
      val touches = p.join(v,
          col("user_id") === col("v_user") && col("v_ts") < col("p_ts") &&
            col("v_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
        .select(col("p_id"), col("view_id"))
      touches.withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("p_id"))))
        .groupBy(col("view_id"))
        .agg(round(sum((lit(1.0) / col("n"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 12)))
          .cast("double"), 6).as("credit"),
          count(lit(1)).as("n_conversions"))
        .orderBy(col("view_id"))
    }),

    // Position-based (U-shaped, 40/20/40) attribution over the same
    // 30-minute touch window as attrib_linear: first and last touch get
    // 40% each, the middle touches split 20% — the model marketing runs
    // when discovery and closing both deserve outsized credit. Touch
    // positions come from one row_number window per conversion; n = 1
    // and n = 2 take the standard full/50-50 degenerations. The middle
    // share 0.2/(n−2) goes through DECIMAL(18,12) exactly like
    // attrib_linear's 1/n, so the per-view credit sum is
    // parallel-order-proof.
    "attrib_position" -> ((s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
          col("ts").as("v_ts"))
      val touches = p.join(v,
          col("user_id") === col("v_user") && col("v_ts") < col("p_ts") &&
            col("v_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
        .select(col("p_id"), col("view_id"), col("v_ts"))
      // rn and n share ONE p_id window partition (n as count over the
      // same partition — no frame clause, so the whole-partition count):
      // the old agg+self-join on touches re-executed the range-join
      // subtree twice and shuffled a second time
      val w = Window.partitionBy(col("p_id")).orderBy(col("v_ts"), col("view_id"))
      val credit = when(col("n") === 1, lit(1.0))
        .when(col("n") === 2, lit(0.5))
        .when(col("rn") === 1 || col("rn") === col("n"), lit(0.4))
        .otherwise(lit(0.2) / (col("n") - 2))
      touches.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("p_id"))))
        .groupBy(col("view_id"))
        .agg(round(sum(credit.cast(org.apache.spark.sql.types.DecimalType(18, 12)))
            .cast("double"), 6).as("credit"),
          count(lit(1)).as("n_conversions"))
        .orderBy(col("view_id"))
    }),

    // Time-decay attribution over the same 30-minute touch window —
    // completes the attribution family (linear = equal, position =
    // U-shaped, this = recency): each touch's weight HALVES per step
    // away from the conversion. The half-life is in STEPS, so weights
    // are exact binary powers — 2^(40−k) as integers (k capped at 40:
    // deeper touches share the floor weight, bounding the shift for
    // bot-length touch chains), the per-conversion denominator is an
    // integer window sum, and each credit is one double division
    // DECIMAL(18,12)-gridded before the per-view sum (attrib_linear's
    // order-free discipline). No libm: 0.5^k never appears as a float
    // power.
    "attrib_time_decay" -> ((s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
          col("ts").as("v_ts"))
      val touches = p.join(v,
          col("user_id") === col("v_user") && col("v_ts") < col("p_ts") &&
            col("v_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
        .select(col("p_id"), col("view_id"), col("v_ts"))
      val w = Window.partitionBy(col("p_id"))
        .orderBy(col("v_ts").desc, col("view_id").desc)
      touches
        .withColumn("k", least(row_number().over(w) - 1, lit(40)))
        .withColumn("wt", expr("shiftleft(CAST(1 AS BIGINT), 40 - k)"))
        .withColumn("denom", sum(col("wt")).over(Window.partitionBy(col("p_id"))))
        .groupBy(col("view_id"))
        .agg(round(sum((col("wt").cast("double") / col("denom"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 12)))
          .cast("double"), 6).as("credit"),
          count(lit(1)).as("n_conversions"))
        .orderBy(col("view_id"))
    }),

    // exponentially weighted moving average per user (α = 0.2): the
    // recurrence s_i = α·x_i + (1−α)·s_{i−1} is inherently sequential in
    // event order, so it CANNOT be a frame-based window aggregate — the
    // scalable shape is one shuffle (groupBy user) + an in-memory left
    // fold over each user's time-ordered history. Per-key history is
    // bounded (one user's events fit a task comfortably; for truly
    // unbounded keys the fix is segmented folds carrying (decay, partial)
    // pairs, which compose associatively — noted, not needed here). Both
    // engines fold left over the identical (ts, event_id) total order with
    // the first value as seed, so the doubles match bit for bit.
    "ts_ewma" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"),
          struct(col("ts"), col("event_id"), col("value")).as("rec"))
      e.groupBy(col("user_id"))
        .agg(sort_array(collect_list(col("rec"))).as("h"))
        .select(col("user_id"), size(col("h")).cast("bigint").as("n"),
          round(aggregate(
            expr("slice(h, 2, size(h) - 1)"),
            col("h").getItem(0).getField("value"),
            (acc, x) => lit(0.2) * x.getField("value") + lit(0.8) * acc), 6).as("ewma"))
        .orderBy(col("user_id"))
    }),

    // gaps-and-islands — the canonical consecutive-streak analysis: how
    // many activity streaks does each user have, and how long is the
    // longest run of CONSECUTIVE active days? The island key is the
    // classic day − row_number() difference (constant within a
    // consecutive run, distinct across gaps) — pure integer/date
    // arithmetic, exactly mirrored in SQL. One distinct, one per-user
    // window, two count-sized aggs; per-user day counts are bounded by
    // the calendar, so the window partitions stay small at any log size.
    "seq_islands" -> ((s, dir) => {
      val d = events(s, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
      d.withColumn("grp", expr("date_sub(day, row_number() OVER (PARTITION BY user_id ORDER BY day))"))
        .groupBy(col("user_id"), col("grp")).agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"), max(col("len")).as("longest"))
        .orderBy(col("user_id"))
    }),

    // half-life-decayed activity score — the feature-store aggregation
    // behind "recent activity" signals: each event's value weighted by
    // 0.5^(age_weeks) against the corpus's max timestamp (a deterministic
    // reference — no wall clock), then summed per user. The decay exponent
    // is an INTEGER (whole 7-day buckets via date arithmetic), so the
    // weight is an exact power of two in both engines — no libm pow
    // divergence can flip the 6-dp rounding — and each weighted term runs
    // through the DECIMAL cast before the sum, so parallel partial
    // aggregation cannot perturb it either. One broadcast 1-row reference
    // + one hash agg: a scan-shaped op at any log size.
    "ts_decay_agg" -> ((s, dir) => {
      val ev = events(s, dir).filter(col("user_id").isNotNull && col("ts").isNotNull)
      val ref = ev.agg(max(col("ts").cast("date")).as("ref_day"))
      ev.crossJoin(broadcast(ref))
        .withColumn("w", pow(lit(0.5),
          expr("datediff(ref_day, cast(ts as date)) div 7").cast("double")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value") * col("w")).as("decayed"))
        .orderBy(col("user_id"))
    }),

    // weekly cohort retention — the canonical activation/engagement query
    // over an event log. One pass builds each user's (first-week cohort,
    // distinct active weeks) in a single hash aggregation (collect_set of
    // week-truncated dates is bounded: |weeks in the log|, not |events|),
    // then an explode + one dimension-sized hash agg counts users per
    // (cohort, offset) cell. Two shuffles total, both key-count-sized
    // after the map-side combine; NO self-join of the fact table against
    // itself (the naive formulation shuffles the log twice and joins on a
    // hot user key).
    "agg_retention" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("wk"))
      val perUser = e.groupBy(col("user_id"))
        .agg(min(col("wk")).as("cohort"), collect_set(col("wk")).as("wks"))
      perUser.select(col("cohort"), explode(col("wks")).as("wk"))
        .groupBy(col("cohort"),
          (datediff(col("wk"), col("cohort")) / 7).cast("int").as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort"), col("week_offset"))
    }),

    "ts_locf" -> ((s, dir) => {
      val ev = events(s, dir)
      // bounded probe window (user_id < 40) keeps the demo output small;
      // the plan shape is key-count-agnostic — spine |users|×|days|, one
      // fact-sized agg, one per-key window
      val e = ev.filter(col("user_id") < 40)
        .select(col("user_id"), col("ts").cast("date").as("day"), col("value"))
      // the day spine spans ALL events (not just the probe users), so it
      // keeps its own scan; the probe-side daily agg is persisted and the
      // user spine derives from it (identical domain) — 2 scans total,
      // down from 3 (re-executed-subtree lint class)
      val days = ev.agg(min(col("ts").cast("date")).as("d0"),
          max(col("ts").cast("date")).as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val daily = persistShared("ts_locf", e.groupBy(col("user_id"), col("day"))
        .agg(davg(col("value")).as("avg_value")))
      val users = daily.select(col("user_id")).distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      users.crossJoin(broadcast(days))
        .join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          when(col("avg_value").isNull, lit(0)).otherwise(lit(1)).as("obs"),
          round(coalesce(last(col("avg_value"), ignoreNulls = true).over(w),
            lit(0.0)), 6).as("filled_value"))
        .orderBy(col("user_id"), col("day"))
    }))

  val oracles: Map[String, String] = Map(
    "seq_markov_transitions" ->
      """WITH seq AS (
           SELECT event_type AS prev_type,
                  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
           FROM events),
         c AS (SELECT prev_type, next_type, count(1) AS n
               FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
         SELECT prev_type, next_type, n,
                round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6) AS p
         FROM c ORDER BY prev_type, next_type""",
    "seq_markov_stationary" -> {
      def round(k: Int): String =
        s"""t$k AS (
           SELECT p.next_type AS st,
                  CAST(sum(CAST(round(r.rank * p.p, 12) AS DECIMAL(18,12)))
                    AS DOUBLE) AS rank
           FROM r${k - 1} r JOIN p ON r.st = p.prev_type GROUP BY 1),
         d$k AS (
           SELECT 1 - CAST(sum(CAST(round(rank, 12) AS DECIMAL(18,12)))
                    AS DOUBLE) AS dm
           FROM t$k),
         r$k AS (
           SELECT s.st,
                  coalesce(t.rank, 0) + d.dm / ns.ns AS rank
           FROM st s
           LEFT JOIN t$k t ON s.st = t.st
           CROSS JOIN d$k d CROSS JOIN ns)"""
      s"""WITH seq AS (
           SELECT event_type AS prev_type,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS next_type
           FROM events),
         c AS (SELECT prev_type, next_type, count(1) AS n
               FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
         p AS (SELECT prev_type, next_type,
                      CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type) AS p
               FROM c),
         st AS (SELECT prev_type AS st FROM c UNION SELECT next_type FROM c),
         ns AS (SELECT CAST(count(1) AS BIGINT) AS ns FROM st),
         r0 AS (SELECT st, 1.0 / ns AS rank FROM st CROSS JOIN ns),
         ${(1 to 5).map(round).mkString(",\n")}
         SELECT st AS state, round(rank, 6) AS pi FROM r5 ORDER BY state"""
    },
    "graph_reciprocity" ->
      """WITH seq AS (
           SELECT event_type AS prev_type,
                  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
           FROM events),
         e AS (SELECT prev_type AS src, next_type AS dst, count(1) AS n_f
               FROM seq
               WHERE next_type IS NOT NULL AND next_type <> prev_type
               GROUP BY 1, 2)
         SELECT count(1) AS n_edges,
                count(b.n_f) AS n_recip,
                CAST(sum(a.n_f) AS BIGINT) AS w_total,
                CAST(coalesce(sum(least(a.n_f, b.n_f)), 0) AS BIGINT) AS w_recip,
                round(CAST(count(b.n_f) AS DOUBLE) / count(1), 6) AS reciprocity,
                round(CAST(coalesce(sum(least(a.n_f, b.n_f)), 0) AS DOUBLE)
                  / sum(a.n_f), 6) AS w_reciprocity
         FROM e a LEFT JOIN e b ON a.src = b.dst AND a.dst = b.src""",
    "seq_retention_matrix" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         c AS (SELECT user_id, min(d) AS cd FROM ud GROUP BY 1),
         sz AS (SELECT cd, count(1) AS n_users FROM c GROUP BY 1),
         a AS (SELECT c.cd, CAST(date_diff('day', c.cd, ud.d) AS INTEGER) AS day_offset,
                      count(1) AS n_active
               FROM ud JOIN c USING (user_id)
               WHERE date_diff('day', c.cd, ud.d) <= 7 GROUP BY 1, 2)
         SELECT CAST(a.cd AS VARCHAR) AS cohort_day, a.day_offset,
                CAST(a.n_active AS BIGINT) AS n_active,
                round(CAST(a.n_active AS DOUBLE) / sz.n_users, 6) AS retention
         FROM a JOIN sz USING (cd) ORDER BY 1, 2""",
    "seq_path_topk" ->
      """WITH r AS (
           SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         u AS (
           SELECT user_id, count(1) AS n,
                  max(CASE WHEN rn = 1 THEN event_type END) AS e1,
                  max(CASE WHEN rn = 2 THEN event_type END) AS e2,
                  max(CASE WHEN rn = 3 THEN event_type END) AS e3
           FROM r WHERE rn <= 3 GROUP BY 1),
         p AS (
           SELECT e1 || '>' || e2 || '>' || e3 AS path FROM u WHERE n = 3)
         SELECT path, count(1) AS n_users
         FROM p GROUP BY 1 ORDER BY n_users DESC, path LIMIT 10""",
    "agg_unpivot" ->
      """SELECT p_partkey, metric, round(value, 6) AS value FROM (
           SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
           UNION ALL
           SELECT p_partkey, 'p_retailprice', p_retailprice FROM part)
         ORDER BY p_partkey, metric""",
    // oracle uses the windowed decorrelation (one semantics, zero LATERAL
    // dialect risk) — same rows as the lateral form by construction
    "join_lateral" ->
      """SELECT n_name, c_custkey, c_acctbal FROM (
           SELECT n_name, c_custkey, c_acctbal,
                  row_number() OVER (PARTITION BY c_nationkey
                    ORDER BY c_acctbal DESC NULLS LAST, c_custkey) AS rn
           FROM customer JOIN nation ON c_nationkey = n_nationkey) x
         WHERE rn <= 2 ORDER BY n_name, c_acctbal DESC NULLS LAST, c_custkey""",
    "ts_time_weighted" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS t, value,
                  lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t_next
           FROM events)
         SELECT user_id,
           CASE WHEN max(t) = min(t) THEN round(avg(value), 6)
                ELSE round(CAST(sum(CAST(value AS DECIMAL(28,6)) * (t_next - t)) AS DOUBLE)
                           / (max(t) - min(t)), 6) END AS twa
         FROM e GROUP BY user_id ORDER BY user_id""",
    "seq_funnel" ->
      """WITH firsts AS (
           SELECT user_id,
             min(ts) FILTER (event_type = 'view') AS t_view,
             min(ts) FILTER (event_type = 'click') AS t_click,
             min(ts) FILTER (event_type = 'purchase') AS t_buy
           FROM events GROUP BY user_id)
         SELECT user_id,
           CASE WHEN t_view IS NULL THEN 0
                WHEN t_click IS NULL OR t_click <= t_view THEN 1
                WHEN t_buy IS NULL OR t_buy <= t_click THEN 2
                ELSE 3 END AS stage
         FROM firsts ORDER BY user_id""",
    "attrib_shapley" ->
      """WITH fp AS (
           SELECT user_id, min(ts) AS tp FROM events
           WHERE event_type = 'purchase' GROUP BY 1),
         flags AS (
           SELECT e.user_id,
                  max(CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END) AS hv,
                  max(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END) AS hc,
                  max(CASE WHEN e.event_type = 'signup' THEN 1 ELSE 0 END) AS hs
           FROM events e LEFT JOIN fp USING (user_id)
           WHERE e.event_type IN ('view', 'click', 'signup')
             AND (fp.tp IS NULL OR e.ts < fp.tp)
           GROUP BY 1),
         fl AS (
           SELECT f.hv, f.hc, f.hs,
                  CASE WHEN fp.user_id IS NULL THEN 0 ELSE 1 END AS conv
           FROM flags f LEFT JOIN fp USING (user_id)),
         sets AS (
           SELECT hv, hc, hs, count(1) AS n, sum(conv) AS k
           FROM fl GROUP BY 1, 2, 3),
         wide AS (
           SELECT
             coalesce(max(CASE WHEN hv=0 AND hc=0 AND hs=0 THEN CAST(k AS DOUBLE)/n END), 0.0) AS v000,
             coalesce(max(CASE WHEN hv=1 AND hc=0 AND hs=0 THEN CAST(k AS DOUBLE)/n END), 0.0) AS v100,
             coalesce(max(CASE WHEN hv=0 AND hc=1 AND hs=0 THEN CAST(k AS DOUBLE)/n END), 0.0) AS v010,
             coalesce(max(CASE WHEN hv=0 AND hc=0 AND hs=1 THEN CAST(k AS DOUBLE)/n END), 0.0) AS v001,
             coalesce(max(CASE WHEN hv=1 AND hc=1 AND hs=0 THEN CAST(k AS DOUBLE)/n END), 0.0) AS v110,
             coalesce(max(CASE WHEN hv=1 AND hc=0 AND hs=1 THEN CAST(k AS DOUBLE)/n END), 0.0) AS v101,
             coalesce(max(CASE WHEN hv=0 AND hc=1 AND hs=1 THEN CAST(k AS DOUBLE)/n END), 0.0) AS v011,
             coalesce(max(CASE WHEN hv=1 AND hc=1 AND hs=1 THEN CAST(k AS DOUBLE)/n END), 0.0) AS v111
           FROM sets)
         SELECT channel, shapley FROM (
           SELECT 'click' AS channel,
                  round((v010 - v000)/3 + (v110 - v100)/6 + (v011 - v001)/6
                        + (v111 - v101)/3, 6) AS shapley FROM wide
           UNION ALL
           SELECT 'signup',
                  round((v001 - v000)/3 + (v101 - v100)/6 + (v011 - v010)/6
                        + (v111 - v110)/3, 6) FROM wide
           UNION ALL
           SELECT 'view',
                  round((v100 - v000)/3 + (v110 - v010)/6 + (v101 - v001)/6
                        + (v111 - v011)/3, 6) FROM wide)
         ORDER BY channel""",
    "ts_cumulative_distinct" ->
      """WITH fs AS (
           SELECT event_type, user_id, min(CAST(ts AS DATE)) AS day
           FROM events GROUP BY 1, 2),
         d AS (SELECT event_type, day, count(1) AS n_new_users
               FROM fs GROUP BY 1, 2)
         SELECT event_type, day, n_new_users,
                CAST(sum(n_new_users) OVER (PARTITION BY event_type ORDER BY day
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_distinct_users
         FROM d ORDER BY event_type, day""",
    "ts_rolling_distinct" ->
      """WITH ud AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
         ex AS (
           SELECT user_id,
                  CAST(unnest(range(0, least(CAST(d1 - day AS BIGINT), 6) + 1))
                    AS BIGINT) AS off, day
           FROM ud CROSS JOIN b),
         r AS (
           SELECT day + CAST(off AS INT) AS rday,
                  count(DISTINCT user_id) AS distinct_users_7d
           FROM ex GROUP BY 1)
         SELECT rday AS day, distinct_users_7d,
                CAST(least(CAST(rday - d0 AS BIGINT) + 1, 7) AS INT)
                  AS window_days
         FROM r CROSS JOIN b ORDER BY day""",
    "ts_ses_forecast" ->
      """WITH daily AS (
           SELECT event_type AS et, CAST(ts AS DATE) AS day, count(1) AS c
           FROM events GROUP BY 1, 2),
         h AS (
           SELECT et, list_transform(list(c ORDER BY day),
                        x -> CAST(x AS DOUBLE)) AS vs
           FROM daily GROUP BY 1),
         f AS (
           SELECT et, len(vs) AS n_days,
                  list_reduce(vs[1:23], (acc, x) -> 0.3 * x + 0.7 * acc) AS lvl,
                  vs
           FROM h)
         SELECT et AS event_type, CAST(n_days AS BIGINT) AS n_days,
                round(lvl, 6) AS level,
                CASE WHEN len(vs) < 24 THEN NULL
                     ELSE round(list_aggregate(list_transform(vs[24:30],
                            x -> abs(x - lvl)), 'sum') / 7, 6) END AS mae_7d
         FROM f ORDER BY event_type""",
    "ts_croston" ->
      """WITH daily AS (
           SELECT event_type AS et, CAST(ts AS DATE) AS day, count(1) AS c
           FROM events GROUP BY 1, 2),
         h AS (
           SELECT et,
                  list_transform(list(c ORDER BY day),
                    x -> CAST(x AS DOUBLE)) AS qs,
                  list(day ORDER BY day) AS ds
           FROM daily GROUP BY 1),
         g AS (
           SELECT et, qs, len(qs) AS nd,
                  CASE WHEN len(ds) < 2 THEN NULL
                       ELSE list_transform(range(2, len(ds) + 1),
                              k -> CAST(ds[CAST(k AS INTEGER)]
                                        - ds[CAST(k AS INTEGER) - 1] AS DOUBLE)) END AS gaps
           FROM h)
         SELECT et AS event_type, CAST(nd AS BIGINT) AS n_demand_days,
                round(list_reduce(qs, (acc, x) -> 0.3 * x + 0.7 * acc), 6) AS z_level,
                CASE WHEN gaps IS NULL THEN NULL
                     ELSE round(list_reduce(gaps, (acc, x) -> 0.3 * x + 0.7 * acc), 6)
                END AS p_interval,
                CASE WHEN gaps IS NULL THEN NULL
                     ELSE round(list_reduce(qs, (acc, x) -> 0.3 * x + 0.7 * acc)
                                / list_reduce(gaps, (acc, x) -> 0.3 * x + 0.7 * acc), 6)
                END AS demand_rate
         FROM g ORDER BY event_type""",
    "ts_holt_forecast" ->
      """WITH daily AS (
           SELECT event_type AS et, CAST(ts AS DATE) AS day, count(1) AS c
           FROM events GROUP BY 1, 2),
         h AS (
           SELECT et, list_transform(list(c ORDER BY day),
                        x -> CAST(x AS DOUBLE)) AS vs
           FROM daily GROUP BY 1),
         f AS (
           SELECT et, len(vs) AS n_days,
                  list_reduce(
                    list_prepend([vs[2], vs[2] - vs[1]],
                      list_transform(vs[3:23], x -> [x, CAST(0 AS DOUBLE)])),
                    (acc, e) -> [0.3 * e[1] + 0.7 * (acc[1] + acc[2]),
                                 0.2 * ((0.3 * e[1] + 0.7 * (acc[1] + acc[2]))
                                        - acc[1]) + 0.8 * acc[2]]) AS lt,
                  vs
           FROM h)
         SELECT et AS event_type, CAST(n_days AS BIGINT) AS n_days,
                round(lt[1], 6) AS level,
                round(lt[2], 6) AS trend,
                CASE WHEN len(vs) < 24 THEN NULL
                     ELSE round(list_aggregate(list_transform(range(1, 8),
                            hh -> abs(vs[CAST(23 + hh AS INTEGER)]
                                      - (lt[1] + hh * lt[2]))), 'sum') / 7, 6)
                END AS mae_7d
         FROM f ORDER BY event_type""",
    "ts_holt_winters" ->
      """WITH daily AS (
           SELECT event_type AS et, CAST(ts AS DATE) AS day, count(1) AS c
           FROM events GROUP BY 1, 2),
         h AS (
           SELECT et, list_transform(list(c ORDER BY day),
                        x -> CAST(x AS DOUBLE)) AS vs
           FROM daily GROUP BY 1),
         f AS (
           SELECT et, len(vs) AS n_days,
                  list_reduce(
                    list_prepend(
                      list_concat(
                        [list_aggregate(vs[1:7], 'sum') / 7.0,
                         (list_aggregate(vs[8:14], 'sum') / 7.0
                          - list_aggregate(vs[1:7], 'sum') / 7.0) / 7.0],
                        list_transform(vs[1:7],
                          x -> x - list_aggregate(vs[1:7], 'sum') / 7.0)),
                      list_transform(vs[8:], z -> [z])),
                    (acc, e) -> list_concat(list_concat(
                      [0.3 * (e[1] - acc[3]) + 0.7 * (acc[1] + acc[2]),
                       0.2 * ((0.3 * (e[1] - acc[3]) + 0.7 * (acc[1] + acc[2]))
                              - acc[1]) + 0.8 * acc[2]],
                      acc[4:9]),
                      [0.2 * (e[1] - (0.3 * (e[1] - acc[3])
                                      + 0.7 * (acc[1] + acc[2])))
                       + 0.8 * acc[3]])) AS st,
                  vs
           FROM h)
         SELECT et AS event_type, CAST(n_days AS BIGINT) AS n_days,
                CASE WHEN len(vs) < 15 THEN NULL
                     ELSE round(st[1], 6) END AS level,
                CASE WHEN len(vs) < 15 THEN NULL
                     ELSE round(st[2], 6) END AS trend,
                CASE WHEN len(vs) < 15 THEN NULL
                     ELSE round(st[3], 6) END AS season_next,
                CASE WHEN len(vs) < 15 THEN NULL
                     ELSE round(st[1] + st[2] + st[3], 6) END AS forecast_1
         FROM f ORDER BY event_type""",
    "ts_ewm_volatility" ->
      """WITH daily AS (
           SELECT event_type AS et, CAST(ts AS DATE) AS day, count(1) AS c
           FROM events GROUP BY 1, 2),
         h AS (
           SELECT et, list_transform(list(c ORDER BY day),
                        x -> CAST(x AS DOUBLE)) AS vs
           FROM daily GROUP BY 1),
         f AS (
           SELECT et, len(vs) AS n_days,
                  list_reduce(
                    list_prepend([vs[1], CAST(0.0 AS DOUBLE)],
                      list_transform(vs[2:], z -> [z, CAST(0 AS DOUBLE)])),
                    (acc, e) -> [acc[1] + 0.3 * (e[1] - acc[1]),
                                 0.7 * (acc[2] + 0.3 * (e[1] - acc[1])
                                                     * (e[1] - acc[1]))]) AS st
           FROM h)
         SELECT et AS event_type, CAST(n_days AS BIGINT) AS n_days,
                round(st[1], 6) AS ewm_mean,
                round(st[2], 6) AS ewm_var,
                round(sqrt(st[2]), 6) AS ewm_vol
         FROM f ORDER BY event_type""",
    "ts_dtw_distance" ->
      """WITH daily AS (
           SELECT event_type AS et, CAST(ts AS DATE) AS day, count(1) AS c
           FROM events GROUP BY 1, 2),
         h AS (
           SELECT et, list(c ORDER BY day) AS vs FROM daily GROUP BY 1),
         p AS (
           SELECT a.et AS et_a, b.et AS et_b,
                  CAST(len(a.vs) AS BIGINT) AS n_a,
                  CAST(len(b.vs) AS BIGINT) AS n_b,
                  list_reduce(
                    list_prepend(
                      list_prepend(CAST(0 AS BIGINT),
                        list_transform(b.vs, y -> CAST(1000000000000 AS BIGINT))),
                      list_transform(a.vs, x -> [CAST(x AS BIGINT)])),
                    (prev, e) -> list_reduce(
                      list_prepend([CAST(1000000000000 AS BIGINT)],
                        list_transform(b.vs, y -> [CAST(y AS BIGINT)])),
                      (acc, e2) -> list_append(acc,
                        abs(e[1] - e2[1])
                          + least(prev[len(acc)], prev[len(acc) + 1],
                                  acc[len(acc)])))) AS row
           FROM h a JOIN h b ON a.et < b.et)
         SELECT et_a, et_b, n_a, n_b,
                CAST(row[CAST(n_b AS INT) + 1] AS BIGINT) AS dtw,
                round(CAST(row[CAST(n_b AS INT) + 1] AS DOUBLE) / (n_a + n_b), 6)
                  AS dtw_norm
         FROM p ORDER BY et_a, et_b""",
    "ts_matrix_profile" ->
      """WITH daily AS (
           SELECT event_type AS et, CAST(ts AS DATE) AS day, count(1) AS c
           FROM events GROUP BY 1, 2),
         h AS (SELECT et, list(c ORDER BY day) AS vs FROM daily GROUP BY 1),
         wins AS (
           SELECT et, CAST(i AS INT) AS i, vs[CAST(i AS INT):CAST(i AS INT) + 6] AS sub
           FROM h, unnest(range(1, len(vs) - 5)) AS t(i)),
         d AS (
           SELECT a.et, a.i, b.i AS j,
                  CAST(list_aggregate(
                    list_transform(range(1, 8),
                      k -> (a.sub[CAST(k AS INT)] - b.sub[CAST(k AS INT)])
                           * (a.sub[CAST(k AS INT)] - b.sub[CAST(k AS INT)])),
                    'sum') AS BIGINT) AS d2
           FROM wins a JOIN wins b
             ON a.et = b.et AND abs(a.i - b.i) >= 4),
         r AS (
           SELECT et, i, j, d2,
                  row_number() OVER (PARTITION BY et, i ORDER BY d2, j) AS rk
           FROM d)
         SELECT et AS event_type, i, d2 AS nn_dist2, CAST(j AS INT) AS nn_idx
         FROM r WHERE rk = 1 ORDER BY event_type, i""",
    "ts_kalman_1d" ->
      """WITH daily AS (
           SELECT event_type AS et, CAST(ts AS DATE) AS day, count(1) AS c
           FROM events GROUP BY 1, 2),
         h AS (
           SELECT et, list_transform(list(c ORDER BY day),
                        x -> CAST(x AS DOUBLE)) AS vs
           FROM daily GROUP BY 1),
         f AS (
           SELECT et, len(vs) AS n_days,
                  list_reduce(
                    list_prepend([vs[1], CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)],
                      list_transform(vs[2:], z ->
                        [z, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
                    (acc, e) -> [acc[1] + ((acc[2] + 1.0) / ((acc[2] + 1.0) + 4.0))
                                   * (e[1] - acc[1]),
                                 (1.0 - ((acc[2] + 1.0) / ((acc[2] + 1.0) + 4.0)))
                                   * (acc[2] + 1.0),
                                 acc[3] + abs(e[1] - acc[1])]) AS st,
                  vs
           FROM h)
         SELECT et AS event_type, CAST(n_days AS BIGINT) AS n_days,
                round(st[1], 6) AS estimate,
                round(st[2], 6) AS p_var,
                round(st[3] / (len(vs) - 1), 6) AS innovation_mae
         FROM f ORDER BY event_type""",
    "ts_theta_forecast" ->
      """WITH daily AS (
           SELECT event_type AS et, CAST(ts AS DATE) AS day, count(1) AS c
           FROM events GROUP BY 1, 2),
         h AS (
           SELECT et, list_transform(list(c ORDER BY day),
                        x -> CAST(x AS DOUBLE)) AS vs
           FROM daily GROUP BY 1),
         f AS (
           SELECT et, vs, len(vs) AS n_days,
                  list_reduce(
                    list_prepend([1.0, vs[1], vs[1], vs[1]],
                      list_transform(vs[2:23], z ->
                        [z, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                         CAST(0 AS DOUBLE)])),
                    (acc, e) -> [acc[1] + 1,
                                 acc[2] + (acc[1] + 1) * e[1],
                                 acc[3] + e[1],
                                 0.3 * e[1] + 0.7 * acc[4]]) AS st
           FROM h),
         g AS (
           SELECT et, vs, n_days, st[4] AS lvl,
                  (23.0 * st[2] - 276.0 * st[3]) / 23276.0 / 2 AS b
           FROM f),
         m AS (
           SELECT et, vs, n_days, lvl, b,
                  list_reduce(
                    list_prepend([0.0, 0.0],
                      list_transform(vs[24:30], z -> [z, CAST(0 AS DOUBLE)])),
                    (acc, e) -> [acc[1] + 1,
                                 acc[2] + abs(e[1] - (lvl + b * (acc[1] + 1)))])
                    AS mm
           FROM g)
         SELECT et AS event_type, CAST(n_days AS BIGINT) AS n_days,
                round(lvl, 6) AS level, round(b, 6) AS drift,
                CASE WHEN len(vs) < 24 THEN NULL
                     ELSE round(mm[2] / 7, 6) END AS mae_7d
         FROM m ORDER BY event_type""",
    "seq_stickiness" ->
      """WITH ud AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         dau AS (SELECT day, count(1) AS dau FROM ud GROUP BY 1),
         mau AS (
           SELECT mon, count(1) AS mau FROM (
             SELECT DISTINCT CAST(date_trunc('month', day) AS DATE) AS mon,
                    user_id FROM ud)
           GROUP BY 1)
         SELECT day, dau, mau,
                round(CAST(dau AS DOUBLE) / mau, 6) AS stickiness
         FROM dau JOIN mau
           ON CAST(date_trunc('month', dau.day) AS DATE) = mau.mon
         ORDER BY day""",
    "ts_ohlc" ->
      """WITH e AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  (epoch_us(ts) % 86400000000) * 10000000 + event_id AS pick,
                  round(value, 6) AS v
           FROM events)
         SELECT event_type, day,
                arg_min(v, pick) AS open,
                max(v) AS high,
                min(v) AS low,
                arg_max(v, pick) AS close,
                count(1) AS volume
         FROM e GROUP BY 1, 2 ORDER BY event_type, day""",
    "seq_lifecycle_stages" ->
      """WITH ud AS (
           SELECT user_id, min(CAST(ts AS DATE)) AS first_day,
                  max(CAST(ts AS DATE)) AS last_day
           FROM events GROUP BY user_id),
         h AS (SELECT max(last_day) AS h FROM ud),
         st AS (
           SELECT CASE WHEN (h - first_day) < 28 THEN 'new'
                       WHEN (h - last_day) < 1 THEN 'active'
                       WHEN (h - last_day) < 2 THEN 'cooling'
                       WHEN (h - last_day) < 3 THEN 'at_risk'
                       ELSE 'churned' END AS stage,
                  (h - last_day) AS rec, (h - first_day) AS ten
           FROM ud, h)
         SELECT stage, CAST(count(1) AS BIGINT) AS n_users,
                round(CAST(sum(rec) AS DOUBLE) / count(1), 6)
                  AS avg_recency_days,
                round(CAST(sum(ten) AS DOUBLE) / count(1), 6)
                  AS avg_tenure_days
         FROM st GROUP BY stage ORDER BY stage""",
    "seq_current_streak" ->
      """WITH ud AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         r AS (
           SELECT user_id, day,
                  day - CAST(row_number() OVER (PARTITION BY user_id
                    ORDER BY day) AS INTEGER) AS grp
           FROM ud),
         isl AS (
           SELECT user_id, grp, CAST(count(1) AS BIGINT) AS len,
                  max(day) AS last_day
           FROM r GROUP BY 1, 2),
         cur AS (
           SELECT user_id, max_by(len, last_day) AS streak
           FROM isl GROUP BY 1)
         SELECT streak AS streak_len, CAST(count(1) AS BIGINT) AS n_users
         FROM cur GROUP BY 1 ORDER BY 1""",
    "seq_resurrected" ->
      """WITH ud AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         g AS (
           SELECT user_id, day,
                  CAST(day - lag(day, 1) OVER (PARTITION BY user_id
                    ORDER BY day) AS BIGINT) AS gap
           FROM ud)
         SELECT day, count(1) AS active_users,
                count(CASE WHEN gap >= 14 THEN 1 END) AS resurrected,
                coalesce(round(CAST(sum(gap) AS DOUBLE) / count(gap), 6), 0.0)
                  AS avg_gap_days
         FROM g GROUP BY day ORDER BY day""",
    "seq_new_vs_returning" ->
      """WITH ud AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1)
         SELECT ud.day,
                count(CASE WHEN ud.day = f.first_day THEN 1 END) AS new_users,
                count(CASE WHEN ud.day > f.first_day THEN 1 END) AS returning_users,
                round(CAST(count(CASE WHEN ud.day > f.first_day THEN 1 END) AS DOUBLE)
                  / (count(CASE WHEN ud.day = f.first_day THEN 1 END)
                     + count(CASE WHEN ud.day > f.first_day THEN 1 END)), 6)
                  AS returning_share
         FROM ud JOIN f ON ud.user_id = f.user_id
         GROUP BY ud.day ORDER BY ud.day""",
    "seq_cohort_ltv" ->
      """WITH o AS (
           SELECT o_custkey,
                  CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
                  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
           FROM orders),
         cohort AS (
           SELECT o_custkey, min(mon) AS cohort FROM o GROUP BY 1),
         grid AS (
           SELECT cohort,
                  (year(mon) - year(cohort)) * 12
                    + (month(mon) - month(cohort)) AS age,
                  count(DISTINCT o.o_custkey) AS n_active,
                  CAST(sum(cents) AS BIGINT) AS cents
           FROM o JOIN cohort ON o.o_custkey = cohort.o_custkey
           GROUP BY 1, 2),
         sizes AS (SELECT cohort, count(1) AS cohort_size FROM cohort GROUP BY 1)
         SELECT g.cohort, CAST(age AS INT) AS age, n_active, cents,
                CAST(sum(cents) OVER (PARTITION BY g.cohort ORDER BY age
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS cum_cents,
                cohort_size,
                round(CAST(sum(cents) OVER (PARTITION BY g.cohort ORDER BY age
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  / (cohort_size * 100.0), 6) AS ltv_per_user
         FROM grid g JOIN sizes ON g.cohort = sizes.cohort
         ORDER BY g.cohort, age""",
    "seq_rfm_scores" ->
      """WITH o AS (
           SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
                  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
           FROM orders),
         per AS (
           SELECT o_custkey, max(day) AS last_day, count(1) AS frequency,
                  CAST(sum(cents) AS BIGINT) AS monetary_cents
           FROM o GROUP BY 1),
         h AS (SELECT max(day) AS h_day FROM o),
         base AS (
           SELECT o_custkey, frequency, monetary_cents,
                  CAST(date_diff('day', last_day, h_day) AS INT) AS recency_days
           FROM per, h)
         SELECT o_custkey, recency_days, frequency, monetary_cents,
                CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey)
                  AS INT) AS r_score,
                CAST(ntile(5) OVER (ORDER BY frequency, o_custkey)
                  AS INT) AS f_score,
                CAST(ntile(5) OVER (ORDER BY monetary_cents, o_custkey)
                  AS INT) AS m_score,
                CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) * 100
                  + ntile(5) OVER (ORDER BY frequency, o_custkey) * 10
                  + ntile(5) OVER (ORDER BY monetary_cents, o_custkey)
                  AS INT) AS rfm
         FROM base ORDER BY o_custkey""",
    "seq_churn_label" ->
      """WITH ev AS (
           SELECT user_id, CAST(ts AS DATE) AS day FROM events),
         pu AS (
           SELECT user_id, count(1) AS n_events, max(day) AS last_day
           FROM ev GROUP BY 1),
         h AS (SELECT max(day) AS h_day FROM ev)
         SELECT user_id, n_events, last_day,
                CAST(date_diff('day', last_day, h_day) AS INT) AS days_inactive,
                CAST(CASE WHEN date_diff('day', last_day, h_day) > 7
                     THEN 1 ELSE 0 END AS INT) AS churned
         FROM pu, h ORDER BY user_id""",
    "seq_repeat_purchase_curve" ->
      """WITH pu AS (
           SELECT user_id, count(1) AS k FROM events
           WHERE event_type = 'purchase' GROUP BY 1),
         b AS (SELECT CAST(count(1) AS BIGINT) AS n_buyers FROM pu),
         d AS (SELECT unnest([1, 2, 3, 5, 10]) AS depth)
         SELECT depth,
                CAST(sum(CASE WHEN k >= depth THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_users,
                round(CAST(sum(CASE WHEN k >= depth THEN 1 ELSE 0 END) AS DOUBLE)
                      / n_buyers, 6) AS share
         FROM d CROSS JOIN pu CROSS JOIN b
         GROUP BY depth, n_buyers ORDER BY depth""",
    "seq_survival_km" ->
      """WITH ev AS (
           SELECT user_id, CAST(ts AS DATE) AS day, event_type FROM events),
         pu AS (
           SELECT user_id, min(day) AS first_day,
                  min(CASE WHEN event_type = 'purchase' THEN day END)
                    AS first_purchase
           FROM ev GROUP BY 1),
         h AS (SELECT max(day) AS h_day FROM ev),
         lives AS (
           SELECT CASE WHEN first_purchase IS NOT NULL
                       THEN CAST(date_diff('day', first_day, first_purchase) AS INT)
                       ELSE CAST(date_diff('day', first_day, h_day) AS INT)
                  END AS t,
                  CASE WHEN first_purchase IS NOT NULL THEN 0 ELSE 1 END
                    AS censored
           FROM pu, h),
         byt AS (
           SELECT t, count(1) AS n_t,
                  CAST(sum(1 - censored) AS BIGINT) AS d_t
           FROM lives GROUP BY 1),
         tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n_total FROM byt),
         rk AS (
           SELECT t, n_t, d_t,
                  n_total - coalesce(CAST(sum(n_t) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
                    AS n_risk
           FROM byt CROSS JOIN tot),
         sv AS (
           SELECT t, n_risk, d_t,
                  round(exp(CAST(sum(CAST(round(ln(greatest(
                      1.0 - CAST(d_t AS DOUBLE) / n_risk, 1e-12)), 9)
                    AS DECIMAL(18,9))) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE)), 6) AS survival
           FROM rk)
         SELECT t AS t_days, n_risk, d_t AS n_events, survival
         FROM sv WHERE d_t > 0 ORDER BY t_days""",
    "seq_interpurchase_stats" ->
      """WITH p AS (
           SELECT user_id, event_id, epoch_us(ts) AS tu FROM events
           WHERE event_type = 'purchase'),
         g AS (
           SELECT user_id,
                  tu - lag(tu) OVER (PARTITION BY user_id
                    ORDER BY tu, event_id) AS du
           FROM p),
         gg AS (SELECT user_id, du FROM g WHERE du IS NOT NULL),
         rk AS (
           SELECT user_id, du,
                  row_number() OVER (ORDER BY du, user_id) AS rn,
                  count(1) OVER () AS n
           FROM gg)
         SELECT max(n) AS n_gaps,
                count(DISTINCT user_id) AS n_repeat_users,
                round(min(du) / 1000000.0, 6) AS min_s,
                round(max(CASE WHEN rn = (n + 1) // 2 THEN du END)
                  / 1000000.0, 6) AS p50_s,
                round(max(CASE WHEN rn = (9 * n + 9) // 10 THEN du END)
                  / 1000000.0, 6) AS p90_s,
                round(max(du) / 1000000.0, 6) AS max_s
         FROM rk""",
    "seq_funnel_time" ->
      """WITH fv AS (
           SELECT user_id, min(ts) AS tv FROM events
           WHERE event_type = 'view' GROUP BY 1),
         conv AS (
           SELECT e.user_id,
                  min(epoch_us(e.ts)) - max(epoch_us(fv.tv)) AS du
           FROM events e JOIN fv USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > fv.tv
           GROUP BY e.user_id),
         rk AS (
           SELECT du, row_number() OVER (ORDER BY du, user_id) AS rn,
                  count(1) OVER () AS n
           FROM conv)
         SELECT max(n) AS n_converted,
                round(min(du) / 1000000.0, 6) AS min_s,
                round(max(CASE WHEN rn = (n + 1) // 2 THEN du END)
                  / 1000000.0, 6) AS p50_s,
                round(max(CASE WHEN rn = (9 * n + 9) // 10 THEN du END)
                  / 1000000.0, 6) AS p90_s,
                round(max(du) / 1000000.0, 6) AS max_s
         FROM rk""",
    "ts_resample" ->
      """WITH days AS (
           SELECT CAST(unnest(generate_series(CAST(min(ts) AS DATE), CAST(max(ts) AS DATE), INTERVAL 1 DAY)) AS DATE) AS day FROM events),
         types AS (SELECT DISTINCT event_type FROM events),
         daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day, count(1) AS n,
                  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS tv
           FROM events GROUP BY 1, 2)
         SELECT t.event_type, d.day, coalesce(n, 0) AS n_events, coalesce(tv, 0.0) AS total_value
         FROM types t CROSS JOIN days d
         LEFT JOIN daily ON daily.event_type = t.event_type AND daily.day = d.day
         ORDER BY t.event_type, d.day""",
    "attrib_linear" ->
      """WITH touches AS (
           SELECT p.event_id AS p_id, v.event_id AS view_id
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           JOIN (SELECT * FROM events WHERE event_type = 'view') v
             ON v.user_id = p.user_id AND v.ts < p.ts
            AND v.ts >= p.ts - INTERVAL 30 MINUTE),
         per_p AS (SELECT p_id, count(1) AS n FROM touches GROUP BY p_id)
         SELECT view_id,
                round(CAST(sum(CAST(CAST(1.0 AS DOUBLE) / n AS DECIMAL(18,12))) AS DOUBLE), 6) AS credit,
                count(1) AS n_conversions
         FROM touches JOIN per_p USING (p_id)
         GROUP BY view_id ORDER BY view_id""",
    "attrib_position" ->
      """WITH touches AS (
           SELECT p.event_id AS p_id, v.event_id AS view_id, v.ts AS v_ts
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           JOIN (SELECT * FROM events WHERE event_type = 'view') v
             ON v.user_id = p.user_id AND v.ts < p.ts
            AND v.ts >= p.ts - INTERVAL 30 MINUTE),
         pos AS (
           SELECT p_id, view_id,
                  row_number() OVER (PARTITION BY p_id ORDER BY v_ts, view_id) AS rn,
                  count(1) OVER (PARTITION BY p_id) AS n
           FROM touches)
         SELECT view_id,
                round(CAST(sum(CAST(
                  CASE WHEN n = 1 THEN 1.0
                       WHEN n = 2 THEN 0.5
                       WHEN rn = 1 OR rn = n THEN 0.4
                       ELSE CAST(0.2 AS DOUBLE) / (n - 2) END
                  AS DECIMAL(18,12))) AS DOUBLE), 6) AS credit,
                count(1) AS n_conversions
         FROM pos GROUP BY view_id ORDER BY view_id""",
    "attrib_time_decay" ->
      """WITH touches AS (
           SELECT p.event_id AS p_id, v.event_id AS view_id, v.ts AS v_ts
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           JOIN (SELECT * FROM events WHERE event_type = 'view') v
             ON v.user_id = p.user_id AND v.ts < p.ts
            AND v.ts >= p.ts - INTERVAL 30 MINUTE),
         rk AS (
           SELECT p_id, view_id,
                  least(row_number() OVER (PARTITION BY p_id
                          ORDER BY v_ts DESC, view_id DESC) - 1, 40) AS k
           FROM touches),
         wt AS (
           SELECT p_id, view_id, (CAST(1 AS BIGINT) << (40 - k)) AS w,
                  CAST(sum(CAST(1 AS BIGINT) << (40 - k))
                       OVER (PARTITION BY p_id) AS BIGINT) AS denom
           FROM rk)
         SELECT view_id,
                round(CAST(sum(CAST(CAST(w AS DOUBLE) / denom
                  AS DECIMAL(18,12))) AS DOUBLE), 6) AS credit,
                count(1) AS n_conversions
         FROM wt GROUP BY view_id ORDER BY view_id""",
    // list_reduce seeds from the first element and folds left — the same
    // order and the same 0.2·x + 0.8·acc double arithmetic as the Spark
    // aggregate() lambda, so no rounding slack is needed beyond the 6 dp.
    "ts_ewma" ->
      """WITH h AS (
           SELECT user_id, list(value ORDER BY ts, event_id) AS vs
           FROM events GROUP BY user_id)
         SELECT user_id, len(vs) AS n,
                round(list_reduce(vs, (acc, x) -> 0.2 * x + 0.8 * acc), 6) AS ewma
         FROM h ORDER BY user_id""",
    "seq_islands" ->
      """WITH d AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         g AS (
           SELECT user_id, day,
                  day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
           FROM d),
         isl AS (SELECT user_id, grp, count(1) AS len FROM g GROUP BY user_id, grp)
         SELECT user_id, count(1) AS n_islands, CAST(max(len) AS BIGINT) AS longest
         FROM isl GROUP BY user_id ORDER BY user_id""",
    "ts_decay_agg" ->
      """WITH ref AS (SELECT max(CAST(ts AS DATE)) AS ref_day FROM events),
         e AS (
           SELECT user_id, value,
                  pow(0.5, date_diff('day', CAST(ts AS DATE), ref_day) // 7) AS w
           FROM events, ref WHERE user_id IS NOT NULL AND ts IS NOT NULL)
         SELECT user_id, count(1) AS n_events,
                round(CAST(sum(CAST(value * w AS DECIMAL(18,6))) AS DOUBLE), 6) AS decayed
         FROM e GROUP BY user_id ORDER BY user_id""",
    "agg_retention" ->
      """WITH wkly AS (
           SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
         cohorts AS (
           SELECT user_id, min(wk) AS cohort FROM wkly GROUP BY user_id)
         SELECT cohort, CAST(date_diff('day', cohort, wk) // 7 AS INT) AS week_offset,
                count(1) AS n_users
         FROM wkly JOIN cohorts USING (user_id)
         GROUP BY cohort, week_offset
         ORDER BY cohort, week_offset""",
    "ts_locf" ->
      """WITH days AS (
           SELECT CAST(unnest(generate_series(CAST(min(ts) AS DATE), CAST(max(ts) AS DATE), INTERVAL 1 DAY)) AS DATE) AS day FROM events),
         users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 40),
         daily AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
                  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(1), 6) AS avg_value
           FROM events WHERE user_id < 40 GROUP BY 1, 2)
         SELECT user_id, day, obs, round(coalesce(filled, 0.0), 6) AS filled_value FROM (
           SELECT u.user_id, d.day,
                  CASE WHEN avg_value IS NULL THEN 0 ELSE 1 END AS obs,
                  last_value(avg_value IGNORE NULLS) OVER (PARTITION BY u.user_id ORDER BY d.day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
           FROM users u CROSS JOIN days d
           LEFT JOIN daily ON daily.user_id = u.user_id AND daily.day = d.day) x
         ORDER BY user_id, day"""
  )
}
