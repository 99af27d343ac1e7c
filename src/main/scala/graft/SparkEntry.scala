package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables.QFn

/** One operator bank: the queries it registers and, for those DuckDB can
  * express with the same semantics, their oracle SQL. */
trait Bank {
  def queries: Map[String, QFn]
  def oracles: Map[String, String]
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2 contributes one entry to `queries`
  * (run on `$sfDir/<table>.parquet`) and, when DuckDB can express the same
  * semantics, a matching oracle SQL string in `oracleSql`. Modules own
  * their slices in a [[Bank]]; [[banks]] lists every bank once, and both
  * views are built from it once, at first use.
  */
object SparkEntry {

  /** Flagship query (TPC-H-Q1-shaped pricing summary) on sf0.001;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_group")(spark, "/root/testdata/sf0.001")

  val banks: Seq[Bank] = Seq(
    operators.Aggregates, operators.Relational, operators.SetOps,
    operators.Windows, functions.ScalarBank, operators.TextOps,
    operators.VectorOps, operators.EtlOps, operators.TypedOps,
    operators.ScaleOps, operators.ShapeOps, operators.AnalyticsOps,
    operators.LmOps, operators.MinHashDedup, operators.Multimodal,
    operators.MultimodalFrames, sources.RestQueries, streaming.Streams,
    streaming.StreamDedup)

  val queries: Map[String, QFn] = union("query", banks.map(_.queries))

  /** Every bank's oracles, each on one line: banks write their SQL across
    * lines for reading, and runs of whitespace collapse to one space here
    * (no oracle puts a run of whitespace inside a quoted literal). Built on
    * first use, so a JVM that only runs queries keeps no normalized copy. */
  lazy val oracleSql: Map[String, String] = union("oracle", banks.map(_.oracles))
    .map { case (k, v) => k -> v.replaceAll("\\s+", " ").trim }

  /** The union of `maps`; a name registered by two of them is an error,
    * not a silent last-wins overwrite. */
  private[graft] def union[V](what: String, maps: Seq[Map[String, V]]): Map[String, V] = {
    val dups = maps.flatMap(_.keys).groupBy(identity).collect {
      case (name, hits) if hits.size > 1 => name
    }
    require(dups.isEmpty, s"$what names registered by more than one bank: ${dups.toSeq.sorted.mkString(", ")}")
    maps.foldLeft(Map.empty[String, V])(_ ++ _)
  }
}
