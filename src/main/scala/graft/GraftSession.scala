package graft

import org.apache.spark.sql.SparkSession

/** Library front door and the one session factory: Bench, Verify, Smoke,
  * ScaleProbe, the dev tools and the test suites all build their session
  * through [[builder]]. [[registerTables]] exposes the test-data tables as
  * temp views and registers the `cosine_sim` / `minhash_sig` SQL
  * functions, so the whole SURVEY §2 surface is reachable from plain
  * `spark.sql`. The as-of join strategy needs no session setup: every
  * `AsofJoinApi.asofJoin` call installs it on its session at runtime.
  * Every session built here, and every clone of one, shares one executor
  * classloader and so reuses the classes another session compiled ([[Tuning]]).
  *
  * A reference user's migration is: build the session here, point
  * registerTables at their parquet directory, and run their queries
  * through `SparkEntry.queries` or SQL.
  */
object GraftSession {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings")

  /** Default width: `SPARK_GRAFT_CPUS`, else every available core. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cpus]` with one shuffle partition per core, UTC session time,
    * no UI and the [[Tuning]] defaults; then every `k=v` entry of
    * `SPARK_GRAFT_CONF=k=v;k=v` (e.g. the RocksDB state-store provider,
    * or a [[Knobs]] capacity lever for an A/B), which overrides all of
    * these. No `spark.graft.*` setting can change a result: a value that
    * changes a published result is a constant next to its oracle, never
    * a conf. */
  def builder(cpus: Int = defaultCpus): SparkSession.Builder = {
    val b = Tuning.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
    parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", "")).foldLeft(b) {
      case (acc, (k, v)) => acc.config(k, v)
    }
  }

  /** `k=v;k=v` → pairs. Empty entries are skipped; an entry without `=`
    * or without a key fails here, naming the entry, instead of surfacing
    * later as an unexplained conf. */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not of the form key=value")
      }
    }

  /** Expose every sfDir table (including the ns-timestamp-safe events
    * reader) as a temp view, and the graft SQL functions, for SQL use. */
  def registerTables(spark: SparkSession, sfDir: String): Unit = {
    tableNames.foreach(n => Tables.t(spark, sfDir, n).createOrReplaceTempView(n))
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    functions.CosineSim.register(spark)
    functions.MinHashSig.register(spark)
  }
}
