package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Typed Dataset[T] pipeline showcase (SURVEY.md §1.2: case-class Encoders
  * where compile-time field checks help — the connector-shaped transform
  * written against typed records instead of Columns).
  *
  * Scale note: groupByKey+mapGroups has NO map-side partial aggregation —
  * fine for the low-cardinality status key here; for high-cardinality keys
  * use a typed Aggregator (see functions.GeoMean) or the untyped path.
  * The per-group sum uses exact BigDecimal(18,6) arithmetic, matching the
  * oracle's DECIMAL cast (same HALF_UP rounding as Spark's Cast).
  */
object TypedOps extends graft.Bank {

  case class OrderRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double)

  val queries: Map[String, QFn] = Map(
    "typed_pipeline" -> ((s, dir) => {
      import s.implicits._
      val ds = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .as[OrderRow]
      ds.filter(_.o_totalprice > 100000.0)
        .groupByKey(_.o_orderstatus)
        .mapGroups { (status, rows) =>
          var n = 0L
          var total = java.math.BigDecimal.ZERO
          rows.foreach { o =>
            n += 1
            total = total.add(new java.math.BigDecimal(o.o_totalprice)
              .setScale(6, java.math.RoundingMode.HALF_UP))
          }
          (status, n, total.doubleValue)
        }
        .toDF("o_orderstatus", "n", "total")
        .withColumn("total", round(col("total"), 6))
        .orderBy(col("o_orderstatus"))
    }))

  val oracles: Map[String, String] = Map(
    "typed_pipeline" ->
      """SELECT o_orderstatus, count(1) AS n,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6) AS total
         FROM orders WHERE o_totalprice > 100000.0
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""
  )
}
