package graft

import org.apache.spark.sql.functions.{broadcast, col}

/** Physical-plan shape assertions (SURVEY.md §4): the plans that matter at
  * 100 TB must actually be the plans Spark produces — broadcast joins stay
  * broadcast, top-k lowers to TakeOrdered, codegen spans cover the scalar
  * banks, and pushed filters reach the parquet scan. */
class PlanSpec extends SparkSuite {

  private def plan(name: String): String =
    q(name).queryExecution.executedPlan.toString

  /** Compact operator multiset of a query's executed plan (subqueries
    * included): per-table un-cached scan counts, join strategy × join
    * type counts, top-k lowering, cached-relation reads. The TPC-H-22
    * pin compares these against expectations so a planner change cannot
    * silently re-introduce a second fact scan or flip a broadcast to a
    * shuffle (VERDICT r12 item 7). */
  private def planSignature(name: String): Map[String, Int] = {
    import org.apache.spark.sql.execution._
    val acc = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def add(k: String): Unit = acc(k) = acc(k) + 1
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = if (seen.add(p)) p match {
      case a: adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
      case n =>
        n match {
          case f: FileSourceScanExec =>
            add("scan:" + f.relation.location.rootPaths
              .map(_.getName.stripSuffix(".parquet")).distinct.mkString(","))
          case j: joins.BroadcastHashJoinExec => add(s"bhj:${j.joinType}")
          case j: joins.SortMergeJoinExec => add(s"smj:${j.joinType}")
          case j: joins.ShuffledHashJoinExec => add(s"shj:${j.joinType}")
          case j: joins.BroadcastNestedLoopJoinExec => add(s"bnlj:${j.joinType}")
          case _: TakeOrderedAndProjectExec => add("topk")
          case _: columnar.InMemoryTableScanExec => add("cached")
          case _ => ()
        }
        n.children.foreach(walk)
        n.subqueries.foreach(walk)
    }
    walk(q(name).queryExecution.executedPlan)
    acc.toMap
  }

  test("TPC-H 22: every analog's executed-plan operator multiset stays pinned") {
    // One parameterized walk over all 22 analogs (VERDICT r12 item 7:
    // only q3/q6/q7/q10 + the subquery-lowering batch had shape pins;
    // q5/q8/q9/q12/q14/q19's single fact scan and q11/q15/q18/q21's
    // single-materialization were asserted only in prose). Each entry is
    // the full multiset of un-cached scans per table, join strategy ×
    // join type, top-k lowering, and cached-relation reads at sf0.001 —
    // a planner upgrade that re-introduces a second fact scan, drops a
    // semi/anti lowering, or re-materializes a subquery changes the
    // multiset and fails here with the exact diff. The lineitem×2 /
    // customer×2 / part×2 entries are the analogs' DOCUMENTED
    // correlated-subquery shapes (q2 min-cost probe, q17 avg-qty,
    // q20 nested IN, q22 avg-acctbal), not defects; `cached` counts are
    // InMemoryTableScan reads of a once-materialized subquery (q11's
    // total-value, q15's revenue CTE, q18/q21's shared order frames).
    // Hygiene first: a cached frame left by an earlier suite whose plan
    // matches a TPC-H subtree would be substituted by the CacheManager
    // and surface as a spurious `cached` entry in the signature.
    ArtifactCache.evictAllCaches()
    spark.catalog.clearCache()
    val expected = Map(
      "agg_group" -> Map("scan:lineitem" -> 1),
      "q2_min_cost_supplier" -> Map("bhj:Inner" -> 3, "scan:lineitem" -> 2,
        "scan:part" -> 1, "scan:supplier" -> 1, "topk" -> 1),
      "q3_shipping" -> Map("bhj:Inner" -> 2, "scan:customer" -> 1,
        "scan:lineitem" -> 1, "scan:orders" -> 1, "topk" -> 1),
      "q4_order_priority" -> Map("bhj:LeftSemi" -> 1, "scan:lineitem" -> 1,
        "scan:orders" -> 1),
      "q5_local_supplier" -> Map("bhj:Inner" -> 5, "scan:customer" -> 1,
        "scan:lineitem" -> 1, "scan:nation" -> 1, "scan:orders" -> 1,
        "scan:region" -> 1, "scan:supplier" -> 1),
      "q6_forecast_revenue" -> Map("scan:lineitem" -> 1),
      "q7_volume_shipping" -> Map("bhj:Inner" -> 5, "scan:customer" -> 1,
        "scan:lineitem" -> 1, "scan:nation" -> 2, "scan:orders" -> 1,
        "scan:supplier" -> 1),
      "q8_market_share" -> Map("bhj:Inner" -> 7, "scan:customer" -> 1,
        "scan:lineitem" -> 1, "scan:nation" -> 2, "scan:orders" -> 1,
        "scan:part" -> 1, "scan:region" -> 1, "scan:supplier" -> 1),
      "q9_product_profit" -> Map("bhj:Inner" -> 4, "scan:lineitem" -> 1,
        "scan:nation" -> 1, "scan:orders" -> 1, "scan:part" -> 1,
        "scan:supplier" -> 1),
      "q10_returned_items" -> Map("bhj:Inner" -> 3, "scan:customer" -> 1,
        "scan:lineitem" -> 1, "scan:nation" -> 1, "scan:orders" -> 1,
        "topk" -> 1),
      "q11_important_values" -> Map("cached" -> 2),
      "q12_late_priority" -> Map("bhj:Inner" -> 1, "scan:lineitem" -> 1,
        "scan:orders" -> 1),
      "q13_customer_distribution" -> Map("bhj:LeftOuter" -> 1,
        "scan:customer" -> 1, "scan:orders" -> 1),
      "q14_promo_effect" -> Map("bhj:Inner" -> 1, "scan:lineitem" -> 1,
        "scan:part" -> 1),
      "q15_top_supplier" -> Map("bhj:Inner" -> 1, "cached" -> 2,
        "scan:supplier" -> 1),
      "q16_supplier_cnt" -> Map("bhj:Inner" -> 1, "bhj:LeftAnti" -> 1,
        "scan:lineitem" -> 1, "scan:part" -> 1, "scan:supplier" -> 1),
      "q17_small_qty_revenue" -> Map("bhj:Inner" -> 2, "scan:lineitem" -> 2,
        "scan:part" -> 1),
      "q18_large_volume" -> Map("bhj:Inner" -> 2, "bhj:LeftSemi" -> 2,
        "cached" -> 3, "scan:customer" -> 1, "scan:orders" -> 1, "topk" -> 1),
      "q19_disjunctive_revenue" -> Map("bhj:Inner" -> 1, "scan:lineitem" -> 1,
        "scan:part" -> 1),
      "q20_excess_suppliers" -> Map("bhj:Inner" -> 1, "bhj:LeftSemi" -> 3,
        "scan:lineitem" -> 2, "scan:part" -> 2, "scan:supplier" -> 1),
      "q21_suppliers_waiting" -> Map("bhj:Inner" -> 2, "bhj:LeftAnti" -> 1,
        "bhj:LeftSemi" -> 1, "cached" -> 3, "scan:orders" -> 1,
        "scan:supplier" -> 1, "topk" -> 1),
      "q22_dormant_customers" -> Map("bhj:LeftAnti" -> 1,
        "scan:customer" -> 2, "scan:orders" -> 1))
    // At the dev fixture the pin is EXACT, strategy included. The sf~1
    // rehearsal replays this same test against 10x data, where join
    // sides legitimately outgrow the 10MB broadcast threshold and the
    // planner flips BHJ -> SMJ/SHJ (observed r14: q2/q3/q4/q5/q10/q17/
    // q18/q20/q21 each flipped exactly one hash join, all structural
    // counts intact). There, STRUCTURE must hold — scan counts per
    // table, join count per join TYPE, topk lowering, cached reads —
    // while the hash-join strategy may move. A nested loop or cartesian
    // appearing stays a failure at every scale (bnlj keys are never
    // normalized).
    val strategyAgnostic = sf != "/root/testdata/sf0.001"
    def norm(m: Map[String, Int]): Map[String, Int] =
      if (!strategyAgnostic) m
      else m.toSeq
        .map { case (k, v) =>
          (if (k.startsWith("bhj:") || k.startsWith("smj:") || k.startsWith("shj:"))
            "join:" + k.substring(4)
          else k) -> v
        }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val diffs = expected.toSeq.sortBy(_._1).flatMap { case (name, exp) =>
      val got = norm(planSignature(name))
      val want = norm(exp)
      if (got != want) Some(s"$name:\n  got      $got\n  expected $want") else None
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  test("join_broadcast: dimension tables broadcast, fact side never shuffles for the join") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning(n_nationkey")
      && !p.contains("Exchange hashpartitioning(r_regionkey"), p.take(2000))
  }

  test("vec_cosine_topk: top-k lowers to TakeOrderedAndProject (no global sort)") {
    val p = plan("vec_cosine_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q3_shipping: limit 10 lowers to TakeOrderedAndProject after the agg") {
    val p = plan("q3_shipping")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("fn_math: the whole scalar bank runs inside one codegen'd scan stage") {
    // AQE finalizes the plan on execution; `*(n)` marks codegen stage n
    val df = q("fn_math")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000)) // sort only
  }

  test("filter_pred: compound predicate is pushed to the parquet scan") {
    val p = plan("filter_pred")
    assert(p.contains("PushedFilters: [") && p.contains("o_orderdate"), p.take(3000))
  }

  test("join_semi/join_anti plan as semi/anti joins, not materialized subqueries") {
    assert(plan("join_semi").contains("LeftSemi"), plan("join_semi").take(1500))
    assert(plan("join_anti").contains("LeftAnti"), plan("join_anti").take(1500))
  }

  test("TPC-H subquery shapes lower to semi/anti joins, never materialized subqueries") {
    // Q4: correlated EXISTS (+ non-equi conjunct) -> one LEFT SEMI
    val p4 = plan("q4_order_priority")
    assert(p4.contains("LeftSemi"), p4.take(3000))
    // Q18: IN over a grouped HAVING -> semi join against the aggregate
    val p18 = plan("q18_large_volume")
    assert(p18.contains("LeftSemi"), p18.take(3000))
    // Q21: EXISTS + NOT EXISTS chain -> one semi AND one anti join
    val p21 = plan("q21_suppliers_waiting")
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"), p21.take(3000))
    // Q2: correlated scalar min -> decorrelated into a join against the
    // once-computed per-part min aggregate (no per-row re-aggregation
    // and no Subquery/CTE materialization node in the physical plan)
    val p2 = plan("q2_min_cost_supplier")
    assert(p2.contains("HashAggregate") &&
      (p2.contains("BroadcastHashJoin") || p2.contains("SortMergeJoin") ||
       p2.contains("ShuffledHashJoin")), p2.take(3000))
    // Q13: the non-urgent filter must ride the LEFT OUTER join condition
    // (filtering in WHERE would drop zero-order customers — the classic
    // count-bug). Runtime invariant: the distribution must conserve the
    // customer count (a WHERE-bug silently loses the dropped customers).
    val p13 = plan("q13_customer_distribution")
    assert(p13.contains("LeftOuter"), p13.take(3000))
    val distTotal = q("q13_customer_distribution")
      .agg(org.apache.spark.sql.functions.sum("custdist")).collect()(0).getLong(0)
    val nCust = graft.Tables.t(spark, sf, "customer").count()
    assert(distTotal === nCust, s"distribution lost customers: $distTotal != $nCust")
    // Q16: NOT IN over the non-nullable supplier key -> anti join, and
    // never a nested loop (the key can't be null, so no null-aware scan)
    val p16 = plan("q16_supplier_cnt")
    assert(p16.contains("LeftAnti"), p16.take(3000))
    assert(!p16.contains("CartesianProduct"), p16.take(3000))
    // Q17: correlated AVG decorrelates into a per-part aggregate joined
    // back — an Aggregate feeding a join, no per-outer-row re-aggregation
    val p17 = plan("q17_small_qty_revenue")
    assert(p17.contains("HashAggregate") && !p17.contains("CartesianProduct"),
      p17.take(3000))
    // Q20: IN(HAVING(correlated scalar + nested IN)) -> a semi-join chain
    // (at least the part-filter semi and the outer supplier semi)
    val p20 = plan("q20_excess_suppliers")
    assert(p20.sliding("LeftSemi".length).count(_ == "LeftSemi") >= 2,
      p20.take(3000))
    assert(!p20.contains("CartesianProduct"), p20.take(3000))
    // Q22: NOT EXISTS with conjuncts -> anti join on the custkey
    val p22 = plan("q22_dormant_customers")
    assert(p22.contains("LeftAnti"), p22.take(3000))
    // Q19: Catalyst must extract BOTH per-relation OR-residues of the
    // DNF and push them to the scans — the quantity-range OR to the
    // lineitem scan and the brand/size OR to the part scan (at 100 TB,
    // the difference between scanning 3 brands and scanning the corpus)
    val p19 = plan("q19_disjunctive_revenue")
    assert(p19.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"), p19.take(6000))
    assert(p19.contains("Or(Or(And(EqualTo(p_brand"), p19.take(6000))
  }

  test("PQ tiers: every join side is broadcast — no CartesianProduct, no big-side shuffle join") {
    for (name <- Seq("vec_pq_ann", "vec_ivfpq_ann")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name: ${p.take(2000)}")
      // the codebook/ADC-table cross joins must plan as broadcast NLJs
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$name: ${p.take(2000)}")
    }
  }

  test("NfcNormalize: codegen and interpreted agree; composes what Unicode can, keeps what it can't") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.NfcNormalize.nfc
    val rows = Seq(
      (1L, "plain ascii stays"),
      (2L, "cafe\u0301"),          // decomposed -> U+00E9
      (3L, "caf\u00e9"),           // already NFC
      (4L, "A\u030a and Z\u0308"), // A+ring composes; Z+diaeresis has no NFC target
      (5L, "")).toDF("id", "text")
    def run(mode: String): Seq[(String, Int)] = {
      val prev = spark.conf.get("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try rows.select(col("id"), nfc(col("text")).as("n"), length(nfc(col("text"))).as("l"))
        .orderBy(col("id")).collect().map(r => (r.getString(1), r.getInt(2))).toSeq
      finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
    }
    val gen = run("CODEGEN_ONLY")
    val interp = run("NO_CODEGEN")
    assert(gen === interp)
    assert(gen(1)._1 === "caf\u00e9" && gen(1)._2 === 4) // composed, 5 cp -> 4
    assert(gen(2)._1 === "caf\u00e9")                    // identity on NFC input
    assert(gen(3)._1 === "\u00c5 and Z\u0308")          // one composes, one can't
    assert(gen(3)._2 === 8)                               // 9 cp -> 8
    assert(gen(0)._1 === "plain ascii stays" && gen(4)._1 === "")
  }

  test("JaroWinkler: codegen/interpreted agree; known values match DuckDB semantics") {
    import spark.implicits._
    import graft.functions.JaroWinkler.jw
    val rows = Seq(
      (1L, "martha", "marhta"),     // classic: jaro 17/18, JW boosted
      (2L, "dixon", "dicksonx"),    // prefix-2 boost above the 0.7 gate
      (3L, "old anvil", "small rod"), // odd mismatch cycle — FLOORED half-count
      (4L, "abc", "abc"),           // identity
      (5L, "", "abc"),              // empty -> 0 (DuckDB semantics)
      (6L, "", ""),                 // BOTH empty -> 0 (DuckDB, not 1)
      (7L, "abcdxxxxxx", "abcdyyyyyyyyyy"), // jaro <= 0.7: boost NOT applied
      (8L, "aaaaa", "aaaab")        // prefix capped at 4
    ).toDF("id", "a", "b")
    def run(mode: String): Seq[Double] = {
      val prev = spark.conf.get("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try rows.select(col("id"), jw(col("a"), col("b")).as("s"))
        .orderBy(col("id")).collect().map(_.getDouble(1)).toSeq
      finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
    }
    val gen = run("CODEGEN_ONLY")
    assert(gen === run("NO_CODEGEN"))
    // values pinned from duckdb> SELECT jaro_winkler_similarity(a, b)
    val expect = Seq(0.9611111111111111, 0.8133333333333332, 0.4444444444444444,
      1.0, 0.0, 0.0, 0.5619047619047619, 0.92)
    gen.zip(expect).zipWithIndex.foreach { case ((g, e), i) =>
      assert(math.abs(g - e) < 1e-12, s"case ${i + 1}: $g vs $e")
    }
  }

  test("DamerauLevenshtein: codegen/interpreted agree; UNRESTRICTED variant pinned") {
    import spark.implicits._
    import graft.functions.DamerauLevenshtein.dl
    val rows = Seq(
      (1L, "CA", "ABC"),            // THE discriminator: true DL = 2, OSA = 3
      (2L, "abcdef", "abcfad"),     // DuckDB-pinned 3
      (3L, "kitten", "sitting"),    // no transpositions: equals levenshtein 3
      (4L, "ab", "ba"),             // one transposition = 1
      (5L, "", "xyz"), (6L, "same", "same")
    ).toDF("id", "a", "b")
    def run(mode: String): Seq[Long] = {
      val prev = spark.conf.get("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try rows.select(col("id"), dl(col("a"), col("b")).as("d"))
        .orderBy(col("id")).collect().map(_.getLong(1)).toSeq
      finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
    }
    val gen = run("CODEGEN_ONLY")
    assert(gen === run("NO_CODEGEN"))
    assert(gen === Seq(2L, 3L, 3L, 1L, 3L, 0L))
  }

  test("MinHashSig: codegen and interpreted paths agree bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "x"),          // shorter than the shingle width
      (3L, ""),           // split("") → [""]
      (4L, "a b a b a"))  // repeated tokens
      .toDF("doc_id", "text")
      .withColumn("toks", split(lower(col("text")), " "))
    def run(mode: String): Seq[Seq[Long]] = {
      val prev = spark.conf.get("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try docs.select(graft.functions.MinHashSig.minhash_sig(col("toks"), 16, 3).as("sig"))
        .orderBy(col("doc_id")).collect().map(_.getSeq[Long](0)).toSeq
      finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
    }
    // CODEGEN_ONLY throws if doGenCode fails to compile — this asserts the
    // generated code is live, not silently falling back to eval
    val gen = run("CODEGEN_ONLY")
    val interp = run("NO_CODEGEN")
    assert(gen === interp)
    assert(gen.head.length === 16)
    assert(gen.head !== gen(3), "different docs must differ")
  }

  test("LshBucket: codegen and interpreted paths agree with the HOF formulation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val planes = Seq(Seq(1.0, -2.0, 0.5), Seq(-1.0, 0.25, 0.75))
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(-1.0f, -0.1f, 0.0f))).toDF("id", "e")
    def run(mode: String): Seq[Int] = {
      val prev = spark.conf.get("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try df.select(graft.functions.LshBucket.lsh_bucket(col("e"), planes))
        .orderBy(col("id")).collect().map(_.getInt(0)).toSeq
      finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
    }
    val gen = run("CODEGEN_ONLY")
    assert(gen === run("NO_CODEGEN"))
    // HOF reference: the exact chain vec_lsh_ann used before the fusion
    val hof = df.select(planes.zipWithIndex.map { case (p, j) =>
        val d = aggregate(zip_with(col("e"), array(p.map(lit): _*),
          (x, y) => x.cast("double") * y), lit(0.0), (acc, v) => acc + v)
        when(d > 0, lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _).as("b")).orderBy(col("id"))
      .collect().map(_.getInt(0)).toSeq
    assert(gen === hof, s"fused must equal the HOF formulation, got $gen vs $hof")
  }

  test("SubspaceL2: codegen and interpreted paths agree; shape mismatch nulls") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f, 4.0f), Array(0.5f, 2.0f, 0.0f, 6.0f)),
      (2L, Array(1.0f, 1.0f, 1.0f, 1.0f), Array(1.0f, 1.0f, 1.0f, 1.0f)))
      .toDF("id", "a", "b")
    def run(mode: String): Seq[Seq[Double]] = {
      val prev = spark.conf.get("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try df.select(graft.functions.SubspaceL2.subspace_l2(col("a"), col("b"), 2).as("d"))
        .orderBy(col("id")).collect().map(_.getSeq[Double](0)).toSeq
      finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
    }
    val gen = run("CODEGEN_ONLY")
    assert(gen === run("NO_CODEGEN"))
    assert(gen.head === Seq(0.25, 13.0)) // (0.5²+0²), (3²+(−2)²)
    assert(gen(1) === Seq(0.0, 0.0))
    // 3-elem vs sub=2 and length mismatch → null, not a partial result
    val bad = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
      .select(graft.functions.SubspaceL2.subspace_l2(col("a"), col("b"), 2)).head
    assert(bad.isNullAt(0))
  }

  test("SortedIntersectGE: codegen/interpreted agree and equal size(array_intersect) >= k") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // random sorted arrays WITH duplicate runs — the expression must count
    // distinct common values exactly like array_intersect's distinct result
    val rnd = new scala.util.Random(7)
    val rows = (1L to 200L).map { i =>
      def arr(): Array[Long] =
        Array.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).sorted
      (i, arr(), arr())
    } :+ ((201L, Array.empty[Long], Array(1L, 2L, 3L)))
    val df = rows.toDF("id", "a", "b")
    def run(mode: String, k: Int): Seq[Boolean] = {
      val prev = spark.conf.get("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try df.select(col("id"), graft.functions.SortedIntersectGE
          .sorted_intersect_ge(col("a"), col("b"), k).as("r"))
        .orderBy(col("id")).collect().map(_.getBoolean(1)).toSeq
      finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
    }
    for (k <- Seq(1, 3, 8)) {
      val gen = run("CODEGEN_ONLY", k)
      assert(gen === run("NO_CODEGEN", k), s"k=$k codegen/interpreted diverge")
      val ref = df.select(col("id"),
          (size(array_intersect(col("a"), col("b"))) >= k).as("r"))
        .orderBy(col("id")).collect().map(_.getBoolean(1)).toSeq
      assert(gen === ref, s"k=$k must equal size(array_intersect(...)) >= $k")
    }
  }

  test("sorted_intersect_ge rejects arrays with nullable elements at analysis, naming itself") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1).select(
      array(lit(1L), lit(2L)).as("a"),                    // containsNull = false
      array(lit(1L), lit(null).cast("long")).as("b"))     // containsNull = true
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.select(graft.functions.SortedIntersectGE
        .sorted_intersect_ge(col("a"), col("b"), 1)).collect())
    assert(e.getMessage.contains("sorted_intersect_ge"), e.getMessage)
    assert(df.select(graft.functions.SortedIntersectGE
      .sorted_intersect_ge(col("a"), col("a"), 2)).head.getBoolean(0))
  }

  test("text_tfidf / text_langid reuse the pinned token frame (no double scan)") {
    // the shared tf/tok subtree is persisted; both the broadcast build and
    // the probe side must read the InMemoryRelation, not recompute the
    // scan+explode+aggregate lineage (the round-3 2x scan tax)
    for (name <- Seq("text_tfidf", "text_langid")) {
      val p = plan(name)
      assert(p.contains("InMemoryTableScan"), s"$name: ${p.take(2000)}")
      assert(p.sliding("InMemoryTableScan".length).count(_ == "InMemoryTableScan") >= 2,
        s"$name: both branches should read the cache")
    }
  }

  test("text_langid: argmax is a hash aggregation, not a sort-window rank") {
    // min_by over (-score, lang) replaces row_number() OVER (ORDER BY ...):
    // at corpus scale the window form adds a full sort exchange for a
    // 5-rows-per-key argmax
    val p = plan("text_langid")
    assert(!p.contains("Window"), p.take(3000))
  }

  test("text_decontaminate: eval grams broadcast; corpus side joins without a shuffle") {
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(3000))
  }

  test("join_range_bucket: bucket decomposition plans a HASH join, never nested-loop") {
    // the whole point of the op: the raw range predicate would plan as
    // BroadcastNestedLoopJoin (O(points x intervals)); the bucket equi-key
    // must turn it into a hash join with the range bounds as post-filter
    val p = plan("join_range_bucket")
    assert(p.contains("HashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("sample_stratified: pure scan-stage predicate — no exchange before the filter") {
    // the hash predicate is per-row arithmetic; the only exchange allowed
    // in the plan is the final orderBy's range partitioning
    val p = plan("sample_stratified")
    assert(p.contains("Filter"), p.take(3000))
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
  }

  test("scan_partitioned: status predicate resolves as a PartitionFilter, not a data filter") {
    // the filter must prune DIRECTORIES at planning time — if it shows up
    // only as PushedFilters/post-scan Filter, every status's files are
    // still opened and the layout bought nothing
    val p = q("scan_partitioned").queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(o_orderstatus"), p.take(3000))
  }

  test("topk_per_group_agg: bounded-heap aggregate, no rank window in the plan") {
    // the whole point vs topk_per_group: CollectTopK plans as an
    // ObjectHashAggregate with map-side partial heaps — a Window node here
    // would mean we're back to sorting every group's rows to keep 3
    val p = plan("topk_per_group_agg")
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("join_bloom_filtered: runtime bloom filter prunes the big side before its shuffle") {
    // the selective orders side must fold into a bloom_filter_agg subquery
    // that the lineitem scan applies as might_contain BEFORE the join's
    // exchange — dropping non-matching rows at the source
    val p = plan("join_bloom_filtered")
    assert(p.contains("might_contain"), p.take(3000))
    assert(p.contains("bloom_filter_agg"), p.take(3000))
  }

  test("join_dpp: fact scan carries a runtime partition-pruning subquery") {
    val p = plan("join_dpp")
    assert(p.contains("dynamicpruning"), p.take(3000))
  }

  test("sub_exists decorrelates to a semi join; sub_not_in plans null-aware, not nested-loop") {
    val pe = plan("sub_exists")
    assert(pe.contains("LeftSemi") || pe.contains("Semi"), pe.take(3000))
    val pn = plan("sub_not_in")
    // three-valued NOT IN must take the single-column null-aware anti join
    // — BroadcastHashJoinExec prints its isNullAware flag as the trailing
    // boolean ("LeftAnti, BuildRight, true"). A BroadcastNestedLoopJoin
    // here would be the quadratic fallback that dies at fact scale.
    assert(!pn.contains("BroadcastNestedLoopJoin"), pn.take(3000))
    assert(pn.contains("LeftAnti, BuildRight, true"), pn.take(3000))
  }

  test("graph_triangles: ONE pair-build exchange instance, joins consume the cache") {
    // the input und frame is persisted inside trianglesBuild; every
    // printed occurrence of the pair-build exchange must be the SAME
    // physical node (one plan_id) — without the persist the input subtree
    // re-executes ~5x per run. Pin on the LAZY build fed a raw (uncached)
    // pair-build, exactly what a consumer without the shared artifact
    // would pass. Start from a clean cache: an earlier suite's run leaves
    // cache entries whose printed plans carry their own (older) exchange
    // instances, which this single-instance count would misread.
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val und = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select(col("p1"), col("p2"))
    val (res, cached) = graft.operators.AnalyticsOps.trianglesBuild(und)
    try {
      val p = res.queryExecution.executedPlan.toString
      val ids = """Exchange hashpartitioning\(p1#\d+L, p2#\d+L.*?plan_id=(\d+)""".r
        .findAllMatchIn(p).map(_.group(1)).toSet
      assert(ids.size === 1, s"pair-build exchange instances: $ids\n${p.take(2000)}")
      assert(p.contains("InMemoryTableScan"), p.take(2000))
    } finally cached.foreach(_.unpersist(false))
  }

  test("graph_triangles: the registered query leaves no cache entries behind") {
    spark.catalog.clearCache()
    q("graph_triangles").collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "graph_triangles left persisted frames in the CacheManager")
  }

  test("graph queries consume the memoized artifact: no pair-build exchange in their plans") {
    // the shared coPurchaseGraph artifact means a registered graph
    // query's OWN plan must contain a cached-RDD scan and ZERO
    // occurrences of the distinct→self-join→groupBy pair-build exchange
    // — at 100 TB this is "the graph table is materialized once per
    // corpus snapshot", the same architecture as clusterLabels and the
    // PQ codebooks. basket_pairs (the artifact materializer) is checked
    // too: after the first call its plan is also a pure artifact scan.
    q("basket_pairs").collect() // ensure the artifact is built
    Seq("basket_pairs", "graph_degree_hist", "graph_kcore",
        "graph_adamic_adar", "graph_clustering_coeff").foreach { name =>
      val p = q(name).queryExecution.executedPlan.toString
      assert(p.contains("Scan ExistingRDD"), s"$name: no artifact scan\n${p.take(1500)}")
      // the fact table must never appear: the pair-build (the only
      // lineitem consumer in these queries) ran once, at artifact build
      assert(!p.contains("lineitem"), s"$name re-scans the fact table\n${p.take(1500)}")
    }
  }

  test("vec_index_incremental: probes the cached standing index — per-batch work is batch-sized, never a rebuild") {
    // the incremental-ingest contract in the PLAN (VERDICT r14 item 6):
    // the standing side must be the context-cached RDD artifact (built
    // once per dir in warmup), the arrival side must read the pinned
    // embStore — a plan that re-scans parquet or re-buckets the resident
    // corpus is paying an index rebuild per ingest batch.
    q("vec_index_incremental").collect() // ensure the artifact is built
    val p = q("vec_index_incremental").queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"),
      s"no standing-index artifact scan\n${p.take(1500)}")
    assert(p.contains("InMemoryTableScan"),
      s"ingest probe must read the pinned embStore\n${p.take(1500)}")
    // the only FileScan in the string is the InMemoryRelation printing
    // its one-time BUILD plan — an actual second parquet pass would
    // print two
    assert(p.sliding("FileScan".length).count(_ == "FileScan") <= 1,
      s"ingest probe re-scans parquet\n${p.take(1500)}")
    // the small arrival side broadcasts onto the standing index — the
    // index never shuffles for the probe join
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("graph_degree_hist + recs_item_cf: registered queries leave no cache entries behind") {
    spark.catalog.clearCache()
    q("graph_degree_hist").collect()
    q("recs_item_cf").collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "degree_hist/item_cf left persisted frames in the CacheManager")
  }

  test("recs_item_cf: basket cap is in the plan before the self-join") {
    // the lazy build's optimized plan must carry the slice(sort_array(...))
    // cap expression — the 100 TB skew guard is code, not a comment.
    import spark.implicits._
    val ui0 = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("u", "i")
    val (res, cached) = graft.operators.AnalyticsOps.itemCfBuild(ui0)
    try {
      // analyzed plan (pre-cache-substitution: the optimized/physical
      // print folds the cap into the cached aggregate's unprinted result
      // projection); the semantic guarantee is covered by OperatorSpec's
      // synthetic >K-basket test
      val p = res.queryExecution.analyzed.toString
      assert(p.contains("slice(sort_array("), p.take(3000))
    } finally cached.foreach(_.unpersist(false))
  }



  test("graph_pagerank round: ranks broadcast onto cached edges — no edge shuffle per round") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val edgesDeg = Seq((1L, 2L, 1L), (2L, 3L, 2L), (2L, 1L, 2L))
      .toDF("src", "dst", "cnt")
    val ranks = Seq((1L, 0.4), (2L, 0.3), (3L, 0.3)).toDF("v", "rank")
    val p = graft.operators.AnalyticsOps.pagerankRound(edgesDeg, ranks, 0.05)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning(src"), p.take(2000))
    // the round's only shuffle is the contribution groupBy on dst
    val n = "Exchange hashpartitioning\\(".r.findAllIn(p).size
    assert(n === 1, s"expected exactly the dst groupBy exchange, got $n\n${p.take(2000)}")
  }

  test("graph_pagerank round above the broadcast gate: edges keep their co-partitioning, only ranks shuffle") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the above-gate path: edgesDeg co-partitioned on src (as the query
    // does once before the loop) and broadcastRanks=false — the round must
    // NOT plan a BroadcastExchange for the rank frame, must NOT add a
    // second src exchange beyond the one-time co-partition (EnsureRequirements
    // reuses the REPARTITION_BY_COL partitioning), and only the
    // node-count-sized ranks shuffle to meet it, plus the dst groupBy.
    val edgesDeg = Seq((1L, 2L, 1L), (2L, 3L, 2L), (2L, 1L, 2L))
      .toDF("src", "dst", "cnt").repartition(col("src"))
    val ranks = Seq((1L, 0.4), (2L, 0.3), (3L, 0.3)).toDF("v", "rank")
    // simulate an over-gate rank frame: without this, Spark's size stats on
    // the 3-row fixture would statically pick a broadcast join on their own
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val round = graft.operators.AnalyticsOps
        .pagerankRound(edgesDeg, ranks, 0.05, broadcastRanks = false)
      // the pre-execution adaptive plan prints the static exchanges; AQE may
      // later convert the small fixture join back to broadcast at runtime —
      // that runtime size gate is exactly the behavior we want to allow
      val p = round.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastExchange"), p.take(2000))
      val srcEx = "Exchange hashpartitioning\\(src".r.findAllIn(p).size
      assert(srcEx === 1, s"expected ONLY the one-time co-partition on src, got $srcEx\n${p.take(2500)}")
      val vEx = "Exchange hashpartitioning\\(v#".r.findAllIn(p).size
      assert(vEx === 1, s"expected exactly the rank-side shuffle, got $vEx\n${p.take(2500)}")
      // results identical to the broadcast path
      val b = graft.operators.AnalyticsOps
        .pagerankRound(edgesDeg, ranks, 0.05).collect().map(_.toString).sorted
      val s = round.collect().map(_.toString).sorted
      assert(s === b)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  // The above-gate (graph.broadcastMaxNodes exceeded) shuffle fallbacks
  // are the entire 100 TB story for the graph family — every gated round
  // is exercised here with the gate forced OFF: the plan must contain no
  // static BroadcastExchange (AQE may still convert at runtime on fixture
  // sizes — exactly the behavior we allow) and the results must match the
  // broadcast path bit-for-bit. Template: the pagerank test above.
  private def withNoAutoBroadcast[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def parity(mk: Boolean => org.apache.spark.sql.DataFrame): Unit = {
    val off = mk(false)
    val p = off.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastExchange"), p.take(2500))
    val a = off.collect().map(_.toString).sorted
    val b = mk(true).collect().map(_.toString).sorted
    assert(a === b, "above-gate shuffle path diverged from the broadcast path")
  }

  test("graph_kcore peel above the gate: survivor semi-joins run shuffled, same result") {
    import spark.implicits._
    // a triangle (1,2,3) with pendant 4: degree-<3 peel removes all edges
    // of 4 and keeps asking — one round is enough to pin both shapes
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L), (3L, 4L))
      .toDF("p1", "p2")
    withNoAutoBroadcast {
      parity(b => graft.operators.AnalyticsOps.kcorePeelRound(edges, b))
    }
  }

  test("graph_label_prop vote above the gate: label join runs shuffled, same result") {
    import spark.implicits._
    val adj = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L),
      (4L, 5L), (5L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L), (5L, 5L))
      .toDF("node", "lbl")
    withNoAutoBroadcast {
      parity(b => graft.operators.AnalyticsOps.lpaRound(adj, labels, b))
    }
  }

  test("graph_ktruss peel above the gate: neighbor-list joins run shuffled, same result") {
    import spark.implicits._
    // K5 minus one edge: supports range 2-3, all below the >=8 bar — the
    // round's OUTPUT is empty either way but both joins still plan+run
    val e = (for (a <- 1L to 5L; b <- (a + 1) to 5L if !(a == 1 && b == 2))
      yield (a, b)).toDF("p1", "p2")
    withNoAutoBroadcast {
      parity(b => graft.operators.AnalyticsOps.trussRound(e, b))
    }
  }

  test("graph_bfs_hops expansion above the gate: frontier join runs shuffled, same result") {
    import spark.implicits._
    val adj = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L))
      .toDF("src", "dst")
    val visited = Seq((1L, 1L, 0)).toDF("seed", "node", "dist")
    withNoAutoBroadcast {
      parity(b => graft.operators.AnalyticsOps
        .bfsExpand(adj, visited.select(col("seed"), col("node")), visited, 1, b))
    }
  }

  test("components HashMin round above the edge gate: both joins run shuffled, same labels") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (5L, 6L), (6L, 5L))
      .toDF("d1", "d2")
    val labels = Seq((1L, 1L), (2L, 2L), (3L, 3L), (5L, 5L), (6L, 6L))
      .toDF("doc_id", "comp")
    withNoAutoBroadcast {
      parity { b =>
        val hint: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
          if (b) broadcast else identity
        graft.operators.Components.hashMinRound(labels, edges, hint)
      }
    }
  }

  test("components full fixpoint above the edge gate (broadcastMaxEdges=0) matches the broadcast path") {
    import spark.implicits._
    val pairs = Seq((2L, 1L), (3L, 2L), (6L, 5L), (9L, 9L)).toDF("d1", "d2")
    def run(maxEdges: Long) = graft.operators.Components
      .hashMinLabels(spark, pairs, broadcastMaxEdges = maxEdges)
      .collect().map(_.toString).sorted
    assert(run(0L) === run(2L << 20),
      "forced-shuffle HashMin fixpoint diverged from the broadcast path")
  }

  test("eval_ndcg: both top-10s are bounded-heap aggregates — no rank window in the plan") {
    val p = plan("eval_ndcg")
    // the O(n log n)-per-user formulation this replaces would show Window/
    // row_number; the heap agg plans as ObjectHashAggregate(collect_top_k)
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
  }

  test("round-10 ops keep their claimed shapes: artifact reuse, no stray windows, spine broadcasts") {
    // graph_closeness_sample and graph_ktruss consume the memoized
    // all-pairs artifact — zero file scans may appear in their live plans
    // (the pair-build ran once inside the artifact build)
    for (name <- Seq("graph_closeness_sample", "graph_ktruss")) {
      val p = q(name).queryExecution.executedPlan.toString
      assert(!p.contains("FileScan"), s"$name re-scans the fact:\n${p.take(2000)}")
    }
    // eval_pr_auc's only sort is the per-group rank window + presentation
    // order — no global row-grain range shuffle beyond them
    val pr = q("eval_pr_auc").queryExecution.executedPlan.toString
    assert("Exchange rangepartitioning".r.findAllIn(pr).size <= 1, pr.take(2500))
    // win_time_range: exactly the one user-hash exchange feeds the frame
    val wt = q("win_time_range").queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(wt).nonEmpty, wt.take(2000))
    // attrib_shapley's whole game collapses to single-row aggregates after
    // the set grain — no rank window anywhere
    val sh = q("attrib_shapley").queryExecution.executedPlan.toString
    assert(!sh.contains("Window"), sh.take(2500))
  }

  test("round-6 text/vector ops keep their minimal shuffle shapes") {
    def hashExchanges(name: String): Int =
      "Exchange hashpartitioning\\(".r.findAllIn(plan(name)).size
    // bpe_merge_step: word-count + pair-count hash aggs (map-side partial
    // combine), top-20 lowered to TakeOrdered — never a global sort
    assert(hashExchanges("bpe_merge_step") === 2, plan("bpe_merge_step").take(2000))
    assert(plan("bpe_merge_step").contains("TakeOrderedAndProject"))
    // text_chunk_overlap: pure scan-grain (generate + project) — the
    // chunker itself shuffles NOTHING; only the output order sorts
    assert(hashExchanges("text_chunk_overlap") === 0, plan("text_chunk_overlap").take(2000))
    // corpus_shard: exactly the one shard-window shuffle (the production
    // write path's single repartition)
    assert(hashExchanges("corpus_shard") === 1, plan("corpus_shard").take(2000))
    // vec_matryoshka_topk: broadcast probe, local top-k — no shuffle at all
    assert(hashExchanges("vec_matryoshka_topk") === 0)
    assert(plan("vec_matryoshka_topk").contains("TakeOrderedAndProject"))
  }

  test("round-9 late ops keep their claimed shapes: bottom-k lowered, walks broadcast, lift sortless") {
    // sample_bottomk's scale claim IS the TakeOrdered lowering — a global
    // Sort here would be the single-partition bug the comment rules out
    val pb = plan("sample_bottomk")
    assert(pb.contains("TakeOrderedAndProject"), pb.take(2000))
    // graph_walk_corpus: each step's broadcast frontier join ran ONCE at
    // build (inside the per-step localCheckpoint) — the live plan is the
    // union of five checkpointed RDD scans with zero file scans, proving
    // the lineage truncation (no step re-executes on the final action)
    val pw = plan("graph_walk_corpus")
    assert(pw.contains("Scan ExistingRDD") && !pw.contains("FileScan"),
      pw.take(2000))
    // eval_lift: the global rank is RECONSTRUCTED from score-grain
    // offsets + within-score windows; no global row-grain Sort may
    // survive outside the final 10-row presentation (windows sort within
    // hash-partitioned score groups instead)
    val pl = plan("eval_lift")
    assert(!pl.contains("Exchange rangepartitioning"), pl.take(3000))
    // vec_kmeans reads the shared decimal base through the cache — the
    // embeddings parquet is scanned zero times in the live plan
    assert(uncachedScans(q("vec_kmeans").queryExecution.executedPlan).isEmpty)
    // ts_hampel windows partition per series — no single-partition window
    assert(!plan("ts_hampel").contains("Exchange SinglePartition"),
      plan("ts_hampel").take(2000))
  }

  test("round-7 ops keep their minimal shapes: corpus_mix shuffle-free, knn-graph group-limited") {
    def hashExchanges(name: String): Int =
      "Exchange hashpartitioning\\(".r.findAllIn(plan(name)).size
    // corpus_mix: broadcast weight lookup + per-row explode — the mixture
    // assignment itself shuffles NOTHING (only the output order sorts)
    assert(hashExchanges("corpus_mix") === 0, plan("corpus_mix").take(2000))
    assert(plan("corpus_mix").contains("BroadcastHashJoin"), plan("corpus_mix").take(2000))
    // vec_knn_graph is an ArtifactCache since r14 (shared with
    // vec_hubness): the LIVE plan must be the cached-RDD read + order —
    // zero hash exchanges, no re-run of the construction
    val live = plan("vec_knn_graph")
    assert(live.contains("Scan ExistingRDD"), live.take(2000))
    assert(hashExchanges("vec_knn_graph") === 0, live.take(2000))
    // the BUILD plan keeps the r7 discipline: top-K rank windows lower
    // to partial+final WindowGroupLimit (per-node K-bounded heaps,
    // map-side pruning BEFORE the shuffle — a full sort-window here
    // would be the 100 TB bug); off the checkpointed init graph:
    // 2 exchanges for the N∘N self-join, 1 for the candidate distinct,
    // 1 for the final per-node window; init enters as an RDD scan
    val p = graft.operators.VectorOps.buildKnnGraph(spark, sf)
      .queryExecution.executedPlan.toString
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p.take(2000))
    assert("Exchange hashpartitioning\\(".r.findAllIn(p).size === 4, p.take(3000))
    assert(p.contains("Scan ExistingRDD"), p.take(2000))
    // text_bm25: the checkpointed tf frame feeds df/dl/scoring, so the
    // token grain shuffles ONCE; 4 exchanges total (tf + df + dl + the
    // doc-keyed join/window), term stats broadcast
    assert(hashExchanges("text_bm25") === 4, plan("text_bm25").take(3000))
    assert(plan("text_bm25").contains("Scan ExistingRDD"))
    // ts_decay_agg: exactly the one final hash agg — scan-shaped
    assert(hashExchanges("ts_decay_agg") === 1, plan("ts_decay_agg").take(2000))
    // vec_sq_topk: quantize/dequantize/rank entirely scan-side, top-k
    // lowered — zero hash exchanges
    assert(hashExchanges("vec_sq_topk") === 0)
    assert(plan("vec_sq_topk").contains("TakeOrderedAndProject"))
    // seq_islands: the island window + the (user, grp) agg — two
    assert(hashExchanges("seq_islands") === 2, plan("seq_islands").take(2000))
    // text_cooccur_pmi: the token/pair explosion lives in the memoized
    // corpus pair artifact since r13 (shared with text_textrank — the
    // fact-sized scan+explode runs once per dir, at artifact build, and
    // enters this plan as cached-RDD scans), so the LIVE plan holds only
    // the (a, b)-grain fold behind its persistShared pin (1 agg exchange
    // inside the cached build) plus the unigram broadcast-join sides'
    // re-agg — 2 total, down from r9's 5
    assert(hashExchanges("text_cooccur_pmi") === 2, plan("text_cooccur_pmi").take(2000))
    assert(plan("text_cooccur_pmi").contains("InMemoryTableScan"))
    assert(plan("text_cooccur_pmi").contains("TakeOrderedAndProject"))
    assert(!plan("text_cooccur_pmi").contains("SortMergeJoin"))
  }

  test("round-7 batch-2 ops: sketch algebra stays agg-shaped, budget window stays partitioned") {
    def hashExchanges(name: String): Int =
      "Exchange hashpartitioning\\(".r.findAllIn(plan(name)).size
    // agg_countmin: build partial + merge + truth = 3 hash exchanges —
    // the probe-estimate agg REUSES truth's (u) partitioning (subset-key
    // rule), and the d×w sketch frame attaches by BROADCAST (it is
    // constant-sized) — a shuffle join here would defeat the sketch
    val cm = plan("agg_countmin")
    assert(hashExchanges("agg_countmin") === 3, cm.take(3000))
    assert(cm.contains("BroadcastHashJoin"), cm.take(2000))
    // corpus_token_budget: the DOC-grain running sum must run under a
    // hash-partitioned window (bucketed two-level prefix sum) — a
    // single-partition window over the corpus is the 100 TB bug this
    // op exists to avoid. Bucket-grain offsets may single-partition
    // (bounded rows), so assert the partitioned doc window is present.
    val tb = plan("corpus_token_budget")
    assert(tb.contains("Exchange hashpartitioning(bkt"), tb.take(3000))
    // feature_scale / anom_mad: stats aggs only; facts re-enter via
    // BROADCAST joins, never a fact-sized shuffle join
    assert(plan("feature_scale").contains("BroadcastHashJoin"))
    assert(hashExchanges("feature_scale") === 1, plan("feature_scale").take(2000))
    // anom_mad: 3 = the mad agg + the med agg instantiated under BOTH
    // dev subtrees (mad pass + final pass; AQE reuses them at runtime).
    // All three are event-type-grain — the fact itself never shuffles.
    assert(plan("anom_mad").contains("BroadcastHashJoin"))
    assert(hashExchanges("anom_mad") === 3, plan("anom_mad").take(2000))
    // seq_markov_transitions: ONE fact shuffle (the per-user sequence
    // window); the pair agg + per-state normalization window are both
    // |states|²-grain exchanges
    assert(hashExchanges("seq_markov_transitions") === 3,
      plan("seq_markov_transitions").take(2000))
  }

  test("graph_neighbor_jaccard: leaves no cache entries behind") {
    spark.catalog.clearCache()
    q("graph_neighbor_jaccard").collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "graph_neighbor_jaccard left persisted frames in the CacheManager")
  }

  /** Full-inventory plan sweep with chunked heap hygiene (VERDICT r14
    * item 4): the four lints below each build ~550 physical plans
    * back-to-back; every build re-pins its query-site shared frames, and
    * at the 10x sfscale1 replay the accumulated InMemoryRelations plus
    * codegen/plan churn OOM'd an 8 g driver (the recipe demanded 48 g).
    * The Bench GC-chunk discipline applied to plan sweeps: every 64
    * plans, drop the SQL cache (query-site pins re-pin on the next
    * build; RDD-level artifact caches are unaffected) and drain garbage
    * outside any assertion. */
  private def sweepPlans[A](f: (String, graft.Tables.QFn) => Option[A]): Seq[A] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.flatMap { case ((name, fn), i) =>
      if (i > 0 && i % 64 == 0) { spark.catalog.clearCache(); System.gc() }
      f(name, fn)
    }

  test("plan lint: no query plans an unbounded cartesian / nested-loop join") {
    // sweep EVERY registered query's physical plan: a CartesianProduct or
    // BroadcastNestedLoopJoin is only acceptable when one side is bounded
    // by construction (a broadcast probe set, a 1-row corpus aggregate, a
    // 5-row dim cross) — those queries are whitelisted WITH the bound that
    // justifies them. Anything else appearing here is a scale bug: at
    // 100 TB an unbounded nested-loop side is a query that never finishes.
    val boundedByConstruction = Map(
      "join_cross" -> "5-region x 5-segment broadcast cross",
      "vec_cosine_topk" -> "probe side is a broadcast <=64-vector set",
      "vec_matryoshka_topk" -> "crossJoin against a broadcast 1-row query vector",
      "vec_sq_topk" -> "crossJoin against a broadcast 1-row query vector",
      "vec_binary_hamming_topk" -> "crossJoin against a broadcast 1-row query vector+word",
      "vec_knn_join" -> "probe side is a broadcast <=64-vector set",
      "vec_mips_topk" -> "probe side is a broadcast <=4-vector set",
      "vec_mmr_rerank" -> "shortlist build crossJoins one broadcast query vector; greedy runs on the collected 20-row shortlist",
      "dedup_embed_cosine" -> "probe window is a broadcast bounded set",
      "text_tfidf" -> "crossJoin against a broadcast 1-row corpus count",
      "text_unigram_ppl" -> "crossJoin against a broadcast 1-row total",
      "vec_lsh_ann" -> "crossJoin against broadcast constant plane matrix",
      "vec_ivf_ann" -> "crossJoin against broadcast bounded centroid set",
      "vec_pq_ann" -> "crossJoin against broadcast bounded codebook",
      "vec_ivfpq_ann" -> "crossJoin against broadcast cells+codebook",
      "sub_scalar" -> "scalar correlated subquery joins a 1-row aggregate",
      "expr_custom" -> "crossJoin against a broadcast 1-row query vector",
      "ts_resample" -> "spine build: dim-sized keys x broadcast day span from a 1-row min/max agg",
      "ts_locf" -> "spine build: dim-sized keys x broadcast day span from a 1-row min/max agg",
      "ts_interpolate" -> "spine build: dim-sized keys x broadcast day span from a 1-row min/max agg",
      "agg_kmv_setops" -> "pairwise theta join over a <=7-row daily sketch frame",
      "graph_triangles" -> "crossJoin composes three 1-row aggregate frames",
      "ts_decay_agg" -> "crossJoin against a broadcast 1-row max-ts reference",
      "ts_engle_granger" -> "crossJoin against the broadcast 1-row gamma/moment frames over the pinned day-grain residual frame",
      "text_cooccur_pmi" -> "crossJoins against broadcast 1-row ntok/npairs totals",
      "text_bigram_kn_ppl" -> "crossJoin against a broadcast 1-row bigram-type total",
      "text_stupid_backoff_ppl" -> "crossJoin against a broadcast 1-row bigram total",
      "text_collocations_llr" -> "crossJoin against a broadcast 1-row bigram-instance total",
      "stat_page_trend" -> "crossJoin against a broadcast 1-row event-type-count frame over the calendar-bounded day frame",
      "stat_quade" -> "crossJoins against broadcast 1-row type-count/block-count frames over the calendar-bounded day frame",
      "stat_brunner_munzel" -> "crossJoin against a broadcast 1-row rank-moment frame over the value-grain frame",
      "stat_ad_2sample" -> "crossJoin against a broadcast 1-row group-count frame over the value-grain frame",
      "stat_theil_u" -> "crossJoins compose broadcast 1-row total/entropy frames over catalog-grain margins",
      "stat_g_test" -> "crossJoin against a broadcast 1-row total/dims frame over the catalog-grain cell frame",
      "vec_silhouette_centroid" -> "crossJoin against the broadcast label-count-bounded centroid frame (10 rows)",
      "seq_markov_stationary" -> "crossJoins against broadcast 1-row state-count and dangling-mass frames over the state-catalog-bounded frame",
      "stat_distance_corr" -> "day-grain n^2 pair self-join is calendar-bounded (stat_kendall's license) + broadcast 1-row margin frames",
      "stat_lilliefors" -> "crossJoin against a broadcast 1-row moment frame over the value-grain frame",
      "seq_repeat_purchase_curve" -> "crossJoin against a broadcast 1-row buyer-count frame over the user-grain frame",
      "seq_survival_km" -> "crossJoins against broadcast 1-row horizon/total frames over user- and lifetime-grain frames",
      "text_bm25" -> "crossJoin against a broadcast 1-row ndocs/ntok total",
      "dedup_substring_incremental" -> "crossJoin against a broadcast 1-row max-doc-id batch boundary over the shared shingle frame",
      "vec_ann_recall" -> "composes vec_knn_join, whose broadcast <=8-probe cross join is bounded",
      "stat_ttest" -> "theta self-join of a broadcast 5-row segment-moment frame (<=25 pairs)",
      "stat_cohens_d" -> "theta self-join of a broadcast 5-row segment-moment frame (<=25 pairs)",
      "stat_chi2" -> "crossJoin against a broadcast 1-row grand-total frame",
      "feature_target_encode" -> "crossJoin against a broadcast 1-row global-mean frame",
      "feature_woe" -> "crossJoin against a broadcast 1-row good/bad-total frame",
      "stat_psi" -> "crossJoin against a broadcast 1-row reference-total frame",
      "stat_proportions_ztest" -> "theta self-join of a broadcast 5-row segment-count frame (<=25 pairs)",
      "stat_bootstrap_ci" -> "crossJoins compose three 1-row frames (full mean + rank-2/rank-63 order stats)",
      "vec_pca_power" -> "crossJoins against broadcast 1-row scalars (n, s'v, norm, sign) per power round",
      "graph_modularity" -> "crossJoins compose four 1-row aggregate frames (m, e_c, sum d_c^2, n_communities)",
      "sample_balanced" -> "crossJoin against a broadcast 1-row min-class-count frame",
      "corpus_dup_profile" -> "crossJoin against a broadcast 1-row corpus-doc total over the persisted cluster-size histogram",
      "lm_kneser_ney" -> "crossJoin against a broadcast 1-row bigram-type-count frame",
      "graph_hits" -> "crossJoins against broadcast 1-row max-score frames (one per normalize round)",
      "stat_cramers_v" -> "margin cross product of 5x5 cell-grain frames + broadcast 1-row grand total (stat_chi2's shape)",
      "stat_cramers_v_corrected" -> "inherits stat_cramers_v's whitelisted 5x5 margin cross product (query composition)",
      "text_js_divergence" -> "crossJoin builds the (source-pair x vocabulary) grid — both sides vocabulary/catalog-bounded, never corpus-grain",
      "eval_lift" -> "crossJoin against a broadcast 1-row n/total-positives frame",
      "sample_importance" -> "crossJoin against a broadcast 1-row max-length frame",
      "stat_kendall" -> "crossJoin composes the 1-row pair-classification and 1-row day-count aggregates",
      "stat_tost" -> "theta self-join of a broadcast 5-row segment-moment frame (<=25 pairs, stat_ttest's shape)",
      "stat_power" -> "theta self-join of a broadcast 5-row segment-moment frame (<=25 pairs, stat_ttest's shape)",
      "corpus_stats_report" -> "crossJoin composes the 1-row token-grain and 1-row dimension-cardinality aggregates",
      "etl_dq_report" -> "crossJoin against broadcast 1-row total-count frames (per rule row)",
      "vec_rrf_fusion" -> "inherits vec_ivf_ann's whitelisted bounded crossJoins (query composition, vec_ann_recall's precedent)",
      "text_burstiness" -> "crossJoin against a broadcast 1-row corpus-doc-count frame",
      "vec_space_health" -> "crossJoin composes the 1-row norm-stats and 1-row participation-ratio frames",
      "vec_drift" -> "crossJoin composes the 1-row distance and 1-row norm-reference frames",
      "sample_temperature" -> "crossJoins against broadcast 1-row total and 1-row normalizer frames over the cell-grain (<=100-row) frame",
      "text_ngram_lm_interp" -> "crossJoin against a broadcast 1-row bigram-total frame (text_unigram_ppl's shape)",
      "stat_permutation_test" -> "crossJoin of the 64-row null-distribution frame against the broadcast 1-row observed-diff frame",
      "etl_watermark_load" -> "crossJoin against the broadcast 1-row persisted-watermark frame",
      "stat_kruskal_wallis" -> "crossJoin against the broadcast 1-row tie-count frame over the 5-row segment frame",
      "stat_friedman" -> "crossJoin against the broadcast 1-row sum-of-squared-ranks frame over the 1-row moment frame",
      "etl_gap_detect" -> "spine build: 5-row type dim x broadcast 1-row hour-bound frame (ts_resample's spine shape)",
      "seq_churn_label" -> "crossJoin against the broadcast 1-row corpus-horizon (max day) frame",
      "etl_referential_check" -> "crossJoins against broadcast 1-row total-count frames (per relationship row, etl_dq_report's shape)",
      "stat_poisson_ztest" -> "theta self-join of a broadcast 5-row per-type moment frame (<=25 pairs, stat_ttest's shape)",
      "text_token_length_hist" -> "crossJoin against a broadcast 1-row token-total frame (text_unigram_ppl's shape)",
      "seq_rfm_scores" -> "crossJoin against the broadcast 1-row corpus-horizon (max order day) frame",
      "eval_cohens_kappa" -> "crossJoins compose the <=4-row marginal frames (4x4 cross) and two 1-row aggregates",
      "anom_esd" -> "crossJoins against broadcast 1-row moment frames (one per ESD removal round)",
      "stat_theil_index" -> "crossJoins against broadcast 1-row total frames (fact fold + 5-row group fold + final combine)",
      "graph_eccentricity_sample" -> "crossJoin against the broadcast 1-row diameter (max-over-seeds) frame",
      "stat_eb_shrinkage" -> "crossJoin against the broadcast 1-row MoM prior frame over the <=40-row cell frame",
      "basket_rules" -> "crossJoin against the broadcast 1-row order-total frame",
      "text_entropy_rate" -> "crossJoins against broadcast 1-row gram-total frames (text_unigram_ppl's shape)",
      "stat_f_test" -> "theta self-join of a broadcast 5-row segment-moment frame (<=25 pairs, stat_ttest's shape)",
      "graph_richclub" -> "crossJoins compose 1-row rich-edge and rich-node counts (one pair per threshold)",
      "text_heaps_law" -> "crossJoins against the broadcast 1-row max-doc-id frame (decile bucketing)",
      "seq_lifecycle_stages" -> "crossJoin against the broadcast 1-row corpus-horizon frame (seq_churn_label's shape)",
      "eval_rbo" -> "inherits vec_ivf_ann/vec_knn_join's whitelisted bounded crossJoins (query composition, vec_ann_recall's precedent)",
      "dedup_minhash_recall" -> "crossJoins compose three 1-row count frames (truth/candidates/hits)",
      "graph_ppr" -> "crossJoins against the broadcast 1-row seed frame (one per restart round)",
      "etl_freshness_report" -> "crossJoin against the broadcast 1-row corpus-horizon frame over three checkpointed 1-row summaries",
      "gdpr_t_closeness" -> "zero-cell grid crossJoins are dim-bounded: 25 nations x 5 segments x 1-row total",
      "anom_lof" -> "exact-tier LOF pair join is bounded to the 256-vector base (65k pairs); scale path is the LSH-bucketed kNN",
      "vec_intrinsic_dim" -> "exact-tier TwoNN pair join is bounded to the 256-vector base (65k pairs); scale path is the LSH-bucketed 2-NN",
      "ts_dtw_distance" -> "series-pair range join over the |types|-row (=5) per-type array frame — 10 pairs",
      "sort_range_boundaries" -> "crossJoin against the broadcast 1-row 31-element boundary array",
      "vec_filtered_search" -> "crossJoin against the broadcast 1-row query-vector frame (vec_cosine_topk's shape)",
      "vec_ivf_balance" -> "crossJoin against the broadcast |labels|-row centroid frame (vec_ivf_ann's shape)",
      "stat_mood_median" -> "crossJoin against the broadcast 1-row grand-median frame",
      "stat_ttest_pvalue" -> "inherits stat_ttest's whitelisted <=25-pair theta self-join (query composition)",
      "stat_proportions_pvalue" -> "inherits stat_proportions_ztest's whitelisted <=25-pair theta self-join (query composition)",
      "stat_poisson_pvalue" -> "inherits stat_poisson_ztest's whitelisted <=25-pair theta self-join (query composition)",
      "stat_friedman_pvalue" -> "inherits stat_friedman's whitelisted 1-row sum-of-squared-ranks crossJoin (query composition)",
      "stat_kendall_pvalue" -> "inherits stat_kendall's whitelisted 1-row pair-classification crossJoins (query composition)",
      "stat_mood_pvalue" -> "inherits stat_mood_median's whitelisted 1-row grand-median crossJoin (query composition)",
      "stat_chi2_pvalue" -> "inherits stat_chi2's whitelisted 1-row grand-total crossJoin (query composition)",
      "stat_kruskal_pvalue" -> "inherits stat_kruskal_wallis' whitelisted 1-row tie-count crossJoin (query composition)",
      "ts_rolling_distinct" -> "crossJoins against the broadcast 1-row calendar-bounds frame (pre-explode clip + window_days)",
      "stat_cohens_h" -> "theta self-join of a broadcast 5-row segment-count frame (<=25 pairs, stat_proportions_ztest's shape)",
      "profile_skew_report" -> "per-key summary and bucket-max compose via broadcast 1-row crossJoins (three keys)",
      "recs_coverage_diversity" -> "composes broadcast 1-row totals/gini frames via crossJoins over the bounded recommended-item domain",
      "lm_mixture_temperature" -> "crossJoin against the broadcast 1-row corpus-token total over the |sources|-grain frame",
      "stat_kendalls_w" -> "crossJoins compose broadcast 1-row judge-count/tie-correction/moment frames over the day-grain rank sums",
      "ts_sample_entropy" -> "day-grain n^2 template self-join (stat_distance_corr's license) + broadcast 1-row tolerance frame",
      "stat_ansari_bradley" -> "crossJoin against a broadcast 1-row pooled-count frame over the value-grain frame (stat_brunner_munzel's shape)",
      "vec_cluster_nmi" -> "crossJoin against a broadcast 1-row total over the <=8x|labels| contingency grain",
      "stat_anova_two_way" -> "crossJoins compose broadcast 1-row margin frames over the <=5x7 pinned cell grain",
      "vec_recall_curve" -> "exact tier crossJoins the broadcast <=8-probe set (vec_knn_join's license)")
    val sf = "/root/testdata/sf0.001"
    val offenders = sweepPlans {
      case (name, _) if boundedByConstruction.contains(name) => None
      // streaming queries RUN on build and return a memory-table scan —
      // their plan is lint-trivial but building them here would re-run
      // every stream; the stream block is covered by its own specs
      case (name, _) if name.startsWith("stream_") => None
      case (name, fn) =>
        val p = fn(spark, sf).queryExecution.executedPlan.toString
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
    }
    assert(offenders.isEmpty,
      s"unbounded nested-loop/cartesian in: ${offenders.mkString(", ")}")
  }

  /** Base-table file scans reachable in the executed tree WITHOUT crossing
    * an InMemoryRelation boundary — i.e. scans that will actually re-read
    * the file per reference. Cached subtrees (InMemoryTableScan) don't
    * count: their lineage executes once on first materialization. */
  private def uncachedScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      uncachedScans(a.executedPlan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec =>
      Seq(f.relation.location.rootPaths.map(_.getName).mkString(","))
    case o => o.children.flatMap(uncachedScans)
  }

  test("corpus_token_budget: scored subtree persisted — documents never re-scans, budget derived in-plan") {
    // the r8 defect: the un-persisted scored frame (documents scan +
    // tokenize) executed three times — offsets agg, an eager driver-side
    // budget action, the final join. Fixed by persisting scored and
    // deriving the budget from the bucket-grain offsets window. Pin: the
    // executed tree holds ZERO un-cached file scans (both consumers read
    // the InMemoryRelation), and the broadcast offsets side carries the
    // in-plan integer-div budget.
    val df = q("corpus_token_budget")
    val scans = uncachedScans(df.queryExecution.executedPlan)
    assert(scans.isEmpty, s"corpus_token_budget re-scans base tables: $scans")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"), p.take(2000))
    assert(p.contains("div 2"), p.take(3000)) // budget computed in-plan
  }

  test("plan lint: no query executes the same base-table subtree 3+ times un-cached") {
    // The graph_degree_hist (r7) and corpus_token_budget (r8) defects were
    // the same bug: an un-persisted frame referenced from >=2 sinks, so
    // its whole scan subtree re-executed per reference. This sweep counts
    // per-query UN-CACHED file scans of the same base table in the
    // executed tree and flags >=3 (2 is the legitimate self-join grain —
    // bigram LMs, wedge joins — and AQE exchange reuse dedupes some of
    // those at runtime). Whitelist entries must carry the bound that
    // justifies them.
    // currently EMPTY: the r9 sweep found 18 offenders and every one was
    // fixed at the plan level (persistShared pins, window reformulations,
    // spine derivation from aggregated frames, the shared embeddings
    // store). A new entry here must carry the bound that justifies it.
    val allowed = Map.empty[String, String]
    val offenders = sweepPlans {
      case (name, _) if name.startsWith("stream_") => None // covered by StreamingSpec
      case (name, fn) =>
        val counts = uncachedScans(fn(spark, sf).queryExecution.executedPlan)
          .groupBy(identity).view.mapValues(_.size)
        val worst = counts.maxByOption(_._2)
        worst match {
          case Some((tbl, n)) if n >= 3 && !allowed.contains(name) =>
            Some(s"$name ($tbl x$n)")
          case _ => None
        }
    }
    assert(offenders.isEmpty,
      s"re-executed scan subtrees (persist the shared frame or justify in the whitelist): ${offenders.mkString(", ")}")
  }

  test("TPC-H batch keeps its claimed shapes: q6 scan-pushed, q10 bounded top-k, q7 no nation-grain shuffle") {
    // q6: all three predicates reach the parquet scan — a q6 that
    // filters post-scan reads the whole fact at 100 TB
    val p6 = q("q6_forecast_revenue").queryExecution.executedPlan.toString
    assert(p6.contains("PushedFilters:"), p6.take(1500))
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p6).isDefined, p6.take(2000))
    assert("PushedFilters: \\[[^\\]]*l_discount".r.findFirstIn(p6).isDefined, p6.take(2000))
    // q10: LIMIT 20 over the revenue order lowers to TakeOrderedAndProject
    val p10 = q("q10_returned_items").queryExecution.executedPlan.toString
    assert(p10.contains("TakeOrderedAndProject"), p10.take(2000))
    // q7: nation dims join via BROADCAST (no exchange keyed on the dim
    // join keys snk/cnk), and the rollup's nation-keyed exchange sits
    // above a partial_sum HashAggregate — map-side combined, so only the
    // 2×2×years result crosses the wire
    val p7 = q("q7_volume_shipping").queryExecution.executedPlan.toString
    assert(!"Exchange hashpartitioning\\((?:snk|cnk)#".r.findFirstIn(p7).isDefined,
      p7.take(2500))
    assert(p7.contains("BroadcastHashJoin"), p7.take(2000))
    assert(p7.contains("partial_sum"), p7.take(2000))
  }

  test("RoundPin: spark.graft.checkpointDir switches pins to reliable checkpoints, same result") {
    // the cluster-grade fault-tolerance option the pagerank family
    // documented since r9: localCheckpoint blocks die with an executor
    // and strand later iterations; with the conf set, every RoundPin.pin
    // in the process writes a RELIABLE checkpoint instead. Parity on a
    // full pagerank member (5 gated rounds) + proof the files landed.
    val dir = Scratch.fresh(spark, "graft_ckpt_rel").toString
    val base = q("graph_pagerank").collect().map(_.toString).sorted
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val rel = q("graph_pagerank").collect().map(_.toString).sorted
      assert(rel === base, "reliable-checkpoint path diverged from localCheckpoint path")
      val walked = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val nRdd =
        try walked.filter(p => p.getFileName.toString.startsWith("rdd-")).count()
        finally walked.close()
      assert(nRdd > 0, s"no reliable checkpoint data written under $dir")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("Components fixpoint honors the reliable-checkpoint conf, same labels") {
    import spark.implicits._
    // two components (1,2,3)+(4,5) with a pointer chain long enough for
    // several rounds; parity across the localCheckpoint-free RDD pin and
    // the cache+reliable-checkpoint pin
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("d1", "d2")
    val base = graft.operators.Components.hashMinLabels(spark, pairs)
      .collect().map(_.toString).sorted
    // the context checkpoint dir is set ONCE per JVM (RoundPin's
    // documented behavior) — if an earlier test already set it, the conf
    // dir passed here is ignored, so count rdd-* entries under the
    // EFFECTIVE dir before vs after instead of expecting a fresh dir
    val dir = Scratch.fresh(spark, "graft_ckpt_cc").toString
    def countRdd(root: String): Long = {
      // getCheckpointDir returns a file: URI, conf values a bare path
      val p = if (root.startsWith("file:"))
        java.nio.file.Paths.get(java.net.URI.create(root))
      else java.nio.file.Paths.get(root)
      val w = java.nio.file.Files.walk(p)
      try w.filter(q => q.getFileName.toString.startsWith("rdd-")).count()
      finally w.close()
    }
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val before = spark.sparkContext.getCheckpointDir.map(countRdd).getOrElse(0L)
      val rel = graft.operators.Components.hashMinLabels(spark, pairs)
        .collect().map(_.toString).sorted
      assert(rel === base, "reliable-checkpoint fixpoint diverged")
      val effective = spark.sparkContext.getCheckpointDir
        .getOrElse(fail("no checkpoint dir active after reliable run"))
      assert(countRdd(effective) > before,
        s"no new reliable checkpoint data under $effective")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("plan lint: un-partitioned windows only over bounded-grain frames") {
    // The r10 verdict's one surviving anti-pattern class: a
    // Window.orderBy(...) with no partition key funnels its ENTIRE input
    // through one task. That is fine when the input grain is bounded by
    // CONSTRUCTION (a vocabulary, a value domain, calendar days, a
    // constant-size sample, a P-row offsets frame) and fatal when the
    // grain scales with the fact (customers, users, fact samples) —
    // exactly the five sites DistRank.withRank replaced this round.
    // Sweep: every registered query's executed plan; a WindowExec whose
    // partitionSpec is empty/foldable must either sit on a DistRank
    // internal frame (the `_drk_` marker — its input is the P-row
    // per-slice totals frame, P = shuffle width) or belong to a query
    // whitelisted WITH the bound that justifies the grain.
    val boundedGrain = Map(
      "corpus_overlap_matrix" -> "source-pair grid: |sources|^2 <= 25 rows",
      "corpus_token_budget" -> "length-bucket grain: fixed digit-count buckets",
      "eval_calibration" -> "calibration-bin grain: fixed 10-bin grid",
      "eval_fairness_gaps" -> "group grain: |segments| <= 5 rows",
      "eval_lift" -> "decile grain: 10 rows",
      "lm_ngram_coverage" -> "vocabulary grain (language-bounded, TextOps text_docfreq precedent)",
      "sort_range_boundaries" -> "constant 3200-row hash sample + 32-row bucket rollup",
      "stat_bh_fdr" -> "pairwise-test family grain: |types|^2 <= 10 rows (pinned stat_poisson_pvalue output)",
      "stat_holm_fwer" -> "pairwise-test family grain: |types|^2 <= 10 rows (pinned stat_poisson_pvalue output)",
      "ts_engle_granger" -> "calendar-day grain: one residual series, the lag window runs on the pinned <=|days| frame",
      "stat_dunn_posthoc" -> "pair family grain: |segments|^2 <= 10 rows (pinned z/p frame); the value-grain rank window sits below the pin on the value domain (kruskal's bound)",
      "stat_benford" -> "digit grain: 9 cells",
      "stat_bootstrap_ci" -> "replicate grain: 64 bootstrap resamples",
      "stat_cvm" -> "pooled distinct-value grain (decimal-gridded domain)",
      "stat_jonckheere" -> "distinct-value grain (decimal-gridded domain)",
      "stat_jonckheere_pvalue" -> "inherits stat_jonckheere's distinct-value grain (query composition)",
      "stat_mood_pvalue" -> "inherits stat_mood_median's group-summary grain (query composition)",
      "stat_wilcoxon_pvalue" -> "inherits stat_wilcoxon_signed's distinct |diff|-value grain (query composition)",
      "stat_kruskal_wallis" -> "distinct-value grain (tie table over gridded domain)",
      "stat_kruskal_pvalue" -> "inherits stat_kruskal_wallis' distinct-value grain (query composition)",
      "stat_ks_test" -> "fixed score-bucket grid",
      "stat_ks_pvalue" -> "inherits stat_ks_test's fixed score-bucket grid (query composition)",
      "stat_mannwhitney" -> "distinct-value grain (decimal-gridded domain)",
      "stat_mannwhitney_pvalue" -> "inherits stat_mannwhitney's distinct-value grain (query composition)",
      "stat_cliffs_delta" -> "inherits stat_mannwhitney's distinct-value grain (query composition)",
      "stat_page_trend" -> "treatment-index window runs over the distinct event-type domain (bounded catalog of types)",
      "stat_brunner_munzel" -> "distinct-value grain (stat_mannwhitney's decimal-gridded domain)",
      "stat_quade" -> "range-rank window runs over the calendar-bounded day-range grain",
      "stat_ad_2sample" -> "distinct-value grain (stat_mannwhitney's decimal-gridded domain)",
      "seq_survival_km" -> "risk-set and survival windows run over the calendar-bounded lifetime grain",
      "seq_markov_stationary" -> "dangling-mass window runs over the joined state domain: |types| <= 25 rows per round",
      "recs_coverage_diversity" -> "Gini rank window runs over the recommended-item domain: <=40 rows (endpoints of the top-20 pair list)",
      "stat_ks_uniform" -> "cumulative windows run over the 24-row hour-of-day grain",
      "stat_lilliefors" -> "distinct-value grain (stat_mannwhitney's decimal-gridded domain)",
      "stat_mood_median" -> "group-summary grain: |segments| <= 5 rows",
      "stat_wilcoxon_signed" -> "distinct |diff|-value grain (gridded domain)",
      "text_docfreq" -> "vocabulary grain (language-bounded)",
      "text_heaps_law" -> "decile grain: 10 rows",
      "text_token_length_hist" -> "token-length grain (word length is language-bounded)",
      "ts_max_drawdown" -> "calendar-day grain",
      "ts_rolling_corr" -> "calendar-day grain",
      "vec_dim_variance" -> "embedding-dimension grain: 64 rows",
      "vec_ivf_balance" -> "IVF-cell grain: bounded centroid count",
      "vec_pca_power" -> "embedding-dimension grain: 64 rows",
      "vec_rrf_fusion" -> "fused candidate grain: union of bounded top-k lists",
      "win_skyline_2d" -> "distinct-price value grain (cents grid bounds the domain)",
      "stat_ansari_bradley" -> "distinct-value grain (stat_mannwhitney's decimal-gridded domain)",
      "ts_sample_entropy" -> "calendar-day grain (template series)")
    def globalWindows(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
      val self = p match {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.forall(_.foldable) &&
               !w.child.output.exists(_.name.startsWith("_drk_")) =>
          Seq(w.windowExpression.map(_.sql).mkString(";").take(120))
        case _ => Nil
      }
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          globalWindows(a.executedPlan)
        case o => o.children.flatMap(globalWindows)
      }
      self ++ kids
    }
    val offenders = sweepPlans {
      case (name, _) if name.startsWith("stream_") => None // covered by StreamingSpec
      case (name, _) if boundedGrain.contains(name) => None
      case (name, fn) =>
        val ws = globalWindows(fn(spark, sf).queryExecution.executedPlan)
        if (ws.nonEmpty) Some(s"$name [${ws.head}]") else None
    }
    assert(offenders.isEmpty,
      s"un-partitioned window on a possibly fact-scaling grain (use DistRank or justify the bound): ${offenders.mkString(", ")}")
  }

  test("plan lint: no query replays a cached relation more than 8 times") {
    // The graph_hits r9 defect was invisible to the file-scan lint: its
    // edge frame WAS cached, but each un-pinned derivation level was
    // referenced twice (own max agg + join), so the lineage ABOVE the
    // cache doubled per half-round — 2^4 InMemoryTableScans, each
    // re-running the edge aggregations (44.9 s vs the family's ~2 s).
    // This sweep counts InMemoryTableScan occurrences per query plan:
    // a handful is normal sharing, a two-digit count means an un-pinned
    // exponential chain. Fix = localCheckpoint each derivation level
    // (the pagerank round discipline), not a whitelist entry.
    val sf = "/root/testdata/sf0.001"
    def countIms(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          return countIms(a.executedPlan)
        case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => 1
        case _ => 0
      }
      self + p.children.map(countIms).sum
    }
    val offenders = sweepPlans {
      case (name, _) if name.startsWith("stream_") => None
      case (name, fn) =>
        val n = countIms(fn(spark, sf).queryExecution.executedPlan)
        if (n > 8) Some(s"$name (InMemoryTableScan x$n)") else None
    }
    assert(offenders.isEmpty,
      s"un-pinned derivation chains over cached frames (localCheckpoint each level): ${offenders.mkString(", ")}")
  }
}
