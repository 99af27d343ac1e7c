package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** §2.F sort / limit / set operations (SURVEY.md). Multi-batch ingest
  * semantics from the reference's re-ingest/update loop
  * (/root/reference/README.md:29,:34).
  *
  * Scale notes: `limit_n` after sort planner-lowers to
  * TakeOrderedAndProject (per-partition top-k + driver merge of k·P rows —
  * no global sort). `sort_multi` is a full range-partitioned sort, the one
  * operator here that legitimately needs a global exchange.
  */
object SetOps extends graft.Bank {

  val queries: Map[String, QFn] = Map(
    "sort_multi" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          expr("nullif(c_mktsegment, 'BUILDING')").as("seg_n"),
          col("c_acctbal"))
        .orderBy(col("seg_n").asc_nulls_first, col("c_acctbal").desc, col("c_custkey"))
    }),

    "limit_n" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }),

    "set_union_all" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val b1 = o.filter(col("o_totalprice") < 100000)
      val b2 = o.filter(col("o_totalprice").between(50000, 150000))
      b1.unionByName(b2)
        .orderBy(col("o_orderkey"), col("o_totalprice"))
    }),

    "set_union_distinct" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val b1 = o.filter(col("o_totalprice") < 100000)
      val b2 = o.filter(col("o_totalprice").between(50000, 150000))
      b1.union(b2).distinct()
        .orderBy(col("o_orderkey"), col("o_totalprice"))
    }),

    "set_intersect" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    "set_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    // MULTISET set ops — the bag-semantics corner of §2.F (EXCEPT/
    // INTERSECT collapse duplicates; the ALL forms subtract/min
    // MULTIPLICITIES, which is what reconciliation diffs actually need:
    // "this customer placed 3 'O' orders but only 1 'F' order" survives
    // here and vanishes under distinct semantics). Spark plans both as
    // one hash aggregation over (value → two counts) — no row-grain
    // pairing, scale-safe.
    "set_except_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .exceptAll(o.filter(col("o_orderstatus") === "F")
          .select(col("o_custkey")))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("multiplicity"))
        .orderBy(col("o_custkey"))
    }),

    "set_intersect_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersectAll(o.filter(col("o_orderstatus") === "O")
          .select(col("o_custkey")))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("multiplicity"))
        .orderBy(col("o_custkey"))
    }))

  val oracles: Map[String, String] = Map(
    "sort_multi" ->
      """SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg_n, c_acctbal
         FROM customer
         ORDER BY seg_n ASC NULLS FIRST, c_acctbal DESC NULLS LAST, c_custkey""",
    "limit_n" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC NULLS LAST, o_orderkey LIMIT 10""",
    "set_union_all" ->
      """SELECT * FROM (
           SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice < 100000
           UNION ALL
           SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice BETWEEN 50000 AND 150000)
         ORDER BY o_orderkey, o_totalprice""",
    "set_union_distinct" ->
      """SELECT * FROM (
           SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice < 100000
           UNION
           SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice BETWEEN 50000 AND 150000)
         ORDER BY o_orderkey, o_totalprice""",
    "set_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         ORDER BY o_custkey""",
    "set_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         ORDER BY o_custkey""",
    "set_except_all" ->
      """SELECT o_custkey, count(1) AS multiplicity FROM (
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
           EXCEPT ALL
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
         GROUP BY o_custkey ORDER BY o_custkey""",
    "set_intersect_all" ->
      """SELECT o_custkey, count(1) AS multiplicity FROM (
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
           INTERSECT ALL
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
         GROUP BY o_custkey ORDER BY o_custkey"""
  )
}
