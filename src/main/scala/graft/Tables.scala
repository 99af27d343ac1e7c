package graft

import java.nio.file.{FileVisitOption, Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, LongType, StructType}

/** Shared helpers for every query in the inventory (SURVEY.md §7.0).
  *
  * Determinism rules (SURVEY.md §7.4) enforced here:
  *  - grouped sums of double columns go through an exact DECIMAL cast so the
  *    parallel (partial/final) summation order cannot perturb the 6-dp
  *    rounding that the DuckDB oracle compare hashes;
  *  - every oracled query ends with an ORDER BY on a unique key list.
  */
object Tables {
  type QFn = (SparkSession, String) => DataFrame

  /** Read one generated sf table, [[path]]`(sfDir, name)`, with the
    * schema [[schemaOf]] memoizes for its current file version.
    *
    * Why: a bare `spark.read.parquet(path)` infers the schema on every
    * call, and Spark's parquet inference (`mergeSchemasInParallel`) runs a
    * one-task job to read the footer even for a single file. At sf0.1 on
    * 4 cores (`local[4]`) a read took 73–82 ms that way and 6–8 ms with
    * the schema supplied, once per table read of every query. The supplied
    * schema is the one Spark inferred, so the schema and the optimized
    * plan are the same both ways.
    *
    * The memo key is the qualified path, the size and mtime of every leaf
    * file under it (the file itself, or every part file of a directory),
    * and the session's `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*`
    * values, which change what is inferred ([[events]] sets `nanosAsLong`).
    * A rewritten file, an added part file or a flipped conf misses it. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = path(sfDir, name)
    spark.read.schema(schemaOf(spark, p)).parquet(p)
  }

  /** Where table `name` of the sf dir `sfDir` lives: one parquet file, or
    * a directory of part files. */
  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  private val schemaMemo = new ArtifactCache[StructType]("parquet schema",
    _ => (), ArtifactCache.KeyDriven("keyed by a table's file version and the " +
      "session's parquet confs (see Tables.t); one footer read each, rebuilt on demand"))

  /** The schema Spark infers for the parquet at `path` under `spark`'s
    * confs, inferred once per memo key (see [[t]]). */
  private def schemaOf(spark: SparkSession, path: String): StructType =
    schemaMemo.getOrElseUpdate(schemaKey(spark, path), spark.read.parquet(path).schema)

  private def schemaKey(spark: SparkSession, path: String): String = {
    val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted.map { case (k, v) => s"$k=$v" }
    (leafVersions(spark, path) ++ confs).mkString("|")
  }

  /** The qualified `path`, then `name:size:mtime` of each leaf file under
    * it, sorted. `file:` paths are read through java.nio: Hadoop's local
    * file system forks a process per file status without its native
    * library. A missing path has no leaves, and the read reports it. */
  private def leafVersions(spark: SparkSession, path: String): Seq[String] = {
    val hp = new HadoopPath(path)
    val scheme = hp.toUri.getScheme
    if (scheme == null || scheme == "file") {
      val root = Paths.get(hp.toUri.getPath).toAbsolutePath.normalize
      val leaves = if (!Files.exists(root)) Nil else {
        val walk = Files.walk(root, FileVisitOption.FOLLOW_LINKS)
        try walk.iterator.asScala.flatMap { f =>
          val a = Files.readAttributes(f, classOf[BasicFileAttributes])
          if (a.isRegularFile) Some(s"${root.relativize(f)}:${a.size}:" +
            a.lastModifiedTime.to(TimeUnit.NANOSECONDS))
          else None
        }.toVector finally walk.close()
      }
      s"file:$root" +: leaves.sorted
    } else {
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val root = fs.makeQualified(hp)
      val leaves = scala.collection.mutable.ArrayBuffer.empty[String]
      if (fs.exists(root)) {
        val it = fs.listFiles(root, true)
        while (it.hasNext) {
          val f = it.next()
          leaves += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
        }
      }
      root.toString +: leaves.sorted.toSeq
    }
  }

  /** Read the `events` table, normalizing `ts` to a session-tz TIMESTAMP
    * whatever the generator wrote it as: nanosecond-precision INT64
    * (earlier drops — read as raw Long nanos via the legacy conf and
    * truncate to µs, byte-identical to DuckDB's ns→µs truncation) or a
    * plain µs timestamp (current drops — Spark surfaces it as
    * TIMESTAMP_NTZ; cast to TIMESTAMP, the identity under the UTC
    * session timezone every entrypoint pins). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val tsType = eventsTsType(spark, sfDir)
    normalizeTs(t(spark, sfDir, "events"), tsType)
  }

  /** The type the events file's `ts` reads as, from the [[schemaOf]] memo,
    * with `nanosAsLong` set so an ns-INT64 `ts` reads as its raw Long. */
  private[graft] def eventsTsType(spark: SparkSession, sfDir: String): DataType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schemaOf(spark, path(sfDir, "events"))("ts").dataType
  }

  /** `ts` of type `tsType` as a session-tz TIMESTAMP (see [[events]]). */
  private[graft] def normalizeTs(df: DataFrame, tsType: DataType): DataFrame =
    if (tsType == LongType) df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df.withColumn("ts", col("ts").cast("timestamp"))

  /** The events generator's CLOSED event-type catalog (TESTDATA.md;
    * RestStubServer emits the same set). Single source of truth for every
    * operator that enumerates types — the windowed-pivot columns, the
    * valid-split whitelist, the quarantine rule — so a catalog change is
    * one edit, and the pivot's per-type columns can never silently drop a
    * type while n_total still counts it (StreamingSpec asserts the
    * row-sum identity). Sorted, so derived column order is deterministic. */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Exact-arithmetic image of a double column: DECIMAL(18, s).
    * Sums/avgs over this are order-independent, hence identical between
    * Spark's parallel partial aggregation and DuckDB's. */
  def dec(c: Column, scale: Int = 6): Column = c.cast(DecimalType(18, scale))

  /** Exact decimal sum rendered back as a rounded double (what the oracle
    * emits via round(CAST(sum(...) AS DOUBLE), 6)). */
  def dsum(c: Column, scale: Int = 6): Column =
    round(sum(dec(c, scale)).cast("double"), 6)

  /** Exact decimal average rendered as a rounded double. Spark's and
    * DuckDB's avg-over-decimal result types differ, so both sides compute
    * sum/count explicitly. */
  def davg(c: Column, scale: Int = 6): Column =
    round(sum(dec(c, scale)).cast("double") / count(lit(1)), 6)

  /** Round a double expression to 6 dp (non-aggregated path). */
  def r6(c: Column): Column = round(c.cast("double"), 6)

  /** Query-local shared-subtree persist: a frame that feeds ≥2 sinks of
    * one query plan re-executes its whole scan subtree per reference
    * unless pinned (the graph_degree_hist r7 / corpus_token_budget r8
    * defect class — PlanSpec's re-executed-subtree lint now sweeps for
    * it). At most ONE live entry per site: rebuilding a site (same dir or
    * a new one) releases the previous frame, and
    * [[ArtifactCache.evictAllCaches]] releases everything on Bench/Verify
    * teardown — a long-lived driver never accumulates pinned frames. */
  private val sharedFrames =
    new ArtifactCache[DataFrame]("sharedFrames", _.unpersist(blocking = false),
      ArtifactCache.KeyDriven("query-site-keyed pins built/replaced inside " +
        "each query's own plan; nothing dir-shaped to pre-build"))
  def persistShared(site: String, df: DataFrame): DataFrame =
    sharedFrames.put(site, df.persist())

  /** Per-(site, dir) shared persisted frame, REUSED across query rebuilds
    * on the same dir (getOrElseUpdate, unlike persistShared's
    * replace-on-rebuild) — for stable source-derived frames a whole query
    * family shares, e.g. the embeddings vector store that every ANN tier
    * probes (a real vector engine keeps exactly this artifact resident).
    * Entry count is bounded by dirs-per-JVM; evictAllCaches releases. */
  def persistSharedPerDir(site: String, dir: String, df: => DataFrame): DataFrame = {
    val f = sharedFrames.getOrElseUpdate(s"$site@$dir", df.persist())
    // an external spark.catalog.clearCache() (test hygiene, ops tooling)
    // strips the persist while the registry entry lives on — re-pin, or
    // every consumer silently falls back to re-scanning per reference
    if (f.storageLevel == org.apache.spark.storage.StorageLevel.NONE) f.persist()
    f
  }

  // documents-corpus size per (JVM, dir), memoized — the scale signal the
  // adaptive banding rules (minhash rows-per-band, simhash bucket bits,
  // phash band count; VERDICT r14 item 2) derive from, mirroring
  // VectorOps.embCount. One count job per dir, warmed pre-sweep.
  private val docCountCache = new ArtifactCache[java.lang.Long]("doc count",
    _ => (), ArtifactCache.PerDir((s, d) => { docCount(s, d); () }))
  def docCount(spark: SparkSession, sfDir: String): Long =
    docCountCache.getOrElseUpdate(sfDir, t(spark, sfDir, "documents").count())

  // DISTINCT-content corpus size per (JVM, dir), memoized like docCount —
  // the scale signal the pair-generating LSH families derive their
  // banding from SINCE the exact-duplicate collapse (VERDICT r15 item 1):
  // after collapse only one representative per lower(text) is banded, so
  // bucket capacity must track distinct content, not raw rows (a
  // 100×-copied crawl needs the BASE corpus's banding — deriving from raw
  // rows would sharpen r and cost near-dup recall for nothing). Equal to
  // docCount wherever the corpus is duplicate-free (every fixture and
  // oracle scale — pins unchanged).
  private val distinctDocCountCache = new ArtifactCache[java.lang.Long](
    "distinct doc count",
    _ => (), ArtifactCache.PerDir((s, d) => { distinctDocCount(s, d); () }))
  def distinctDocCount(spark: SparkSession, sfDir: String): Long =
    distinctDocCountCache.getOrElseUpdate(sfDir,
      t(spark, sfDir, "documents")
        .select(lower(col("text"))).distinct().count())

  /** True when the exact-dup collapse machinery must run for the
    * documents corpus: duplicates exist (distinct lower(text) < rows —
    * which also implies distinct payload bytes < rows, so the same gate
    * serves mm_phash's digest collapse), or
    * [[Knobs.forceCollapse]] (the test/parity override).
    * Gate OFF takes the pre-collapse direct formulation — bit-identical
    * output (every cluster is a singleton), none of the collapse's
    * window/persist/re-expansion cost (optimization r16); both counts
    * are warmed memoized artifacts, so the gate itself is free at query
    * time. The broadcast-gate idiom: a capacity branch, never a result
    * change. */
  def docCollapseGate(spark: SparkSession, sfDir: String): Boolean =
    Knobs.forceCollapse(spark) ||
      distinctDocCount(spark, sfDir) < docCount(spark, sfDir)

  /** Cache tag for fixtures derived from a source directory: a sha-256
    * prefix of the FULL path, so two distinct datasets can never serve
    * each other's staged fixtures (a 32-bit hashCode would make that
    * promise breakable by trivial collisions). */
  def pathTag(dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map(b => f"$b%02x").mkString
}
