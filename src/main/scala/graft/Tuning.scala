package graft

import org.apache.spark.sql.SparkSession

/** Session-level performance defaults. [[GraftSession.builder]], the one
  * session factory behind every graft entrypoint (Bench, Verify, Smoke,
  * ScaleProbe, the test suites, the dev tools), applies them.
  *
  *  - '''checkpoint GC at submit time'''
  *    (`spark.cleaner.referenceTracking.cleanCheckpoints=true`): when a
  *    deployment switches RoundPin to reliable checkpoints
  *    (`spark.graft.checkpointDir`), each iterative round's checkpoint
  *    files are GC'd with their RDDs instead of accumulating unbounded —
  *    the long-job disk leak RoundPin could previously only WARN about,
  *    because ContextCleaner reads this flag at SparkContext construction
  *    and setting it later is a no-op (VERDICT r16 item 7). No effect on
  *    the default localCheckpoint pins.
  *
  * '''Measured and deliberately NOT set''' (optimization r17, guide §1.2 —
  * configuration comes after the algorithm, and only with measurements):
  * `spark.sql.adaptive.coalescePartitions.parallelismFirst=false`, the
  * candidate fix for VERDICT r16 item 1's "batch shuffles
  * over-parallelized at sf0.1". A min-of-3 idle A/B on 32 of the slowest
  * queries read it as a clear net loss at bench scale: size-first
  * coalescing folds the iterative families' compute-dense, few-MB round
  * shuffles (ktruss neighbor lists, window frames) into 1–2 partitions —
  * graph_ktruss 2.76 → 4.88 s, stat_quade 1.56 → 3.79, seq_rfm_scores
  * 2.24 → 4.19 — while buying only ~0.2 s on light artifact aggregations
  * (graph_clustering_coeff 0.50 → 0.28). Spark's default
  * (parallelismFirst=true) already coalesces kilobyte shuffles via
  * minPartitionSize and keeps parallelism where compute fills it, and at
  * 100 TB the two settings coincide (every shuffle ≫ the advisory size).
  * The r16 inverse-core-scaling signal that motivated the item was
  * dominated by the measuring JVM's GC saturation, fixed by the heap
  * sizing in build.sbt (OPTIMIZATION_r17.md item 0).
  *
  * These are ordinary conf defaults: `--conf` / `.config(...)` set before
  * `getOrCreate` still override them.
  */
object Tuning {
  def tuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
}
