package graft

import org.apache.spark.sql.SparkSession

/** Session-level performance defaults. [[GraftSession.builder]], the one
  * session factory behind every graft entrypoint (Bench, Verify, Smoke,
  * ScaleProbe, the test suites, the dev tools), applies them, and so does
  * the benchmark runner's session (`perfbench`).
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
  *  - '''one executor classloader for every session'''
  *    (`spark.sql.artifact.isolation.enabled=false`) and
  *    '''a codegen cache that holds the working set'''
  *    (`spark.sql.codegen.cache.maxEntries=5000`). Spark caches each
  *    compiled class by (thread context classloader, generated source).
  *    With isolation on (Spark 4.1's default) every session gets its own
  *    executor classloader keyed by its UUID: the clone Spark makes for
  *    every streaming query it starts and each `Bridge.cloneSession`
  *    (`Components.hashMinLabels` and the ScaleOps join queries) compile
  *    again every class they use. The default cap of 100 entries is a
  *    Guava cache that may evict before it is full, and `analytics_mix`
  *    alone needs about 130 entries, so its LRU thrashed on every pass.
  *    Janino compiles per benchmark run (`-Xlog:class+load`, one run
  *    each):
  *    {{{
  *    setting               analytics_mix          ingest_load
  *    Spark defaults        698                    434
  *    cap 2000 only         169                    201
  *    isolation off only    540                    314
  *    both                  128 (4 after warm-up)   98 (0 after warm-up)
  *    }}}
  *    The two ship together: with only the cap raised, identical source
  *    was still compiled 8–14 times (mostly on executor task threads),
  *    and the dead per-session classes it kept raised ingest_load's
  *    retained heap by 2.3%. The trade-off: an artifact added with
  *    `addArtifact`/`addJar` to one graft session becomes visible to all
  *    of them. The engine adds none.
  *    The cap is sized from Bench's sweep: all 570 queries at sf0.1
  *    fill about 4400 entries (4384 and 4397 in two runs, about 2590
  *    distinct sources under the two classloaders local mode uses), so
  *    5000 holds them with room for the cache's per-segment eviction. An
  *    entry costs about 30 KB of heap: heap in use after a full GC at the
  *    end of the sweep (local[4], 7g heap) read 751 MB at Spark's
  *    defaults, 808 MB at a 2000 cap (4786 compiles: 402 evicted classes
  *    compiled again) and 881 MB at 5000 (4397 compiles, none evicted).
  *    A workload with a small working set, like the benchmark's, never
  *    fills the cap and pays nothing for it.
  *  - '''streaming checkpoint files written through java.nio'''
  *    (`spark.sql.streaming.checkpointFileManagerClass` =
  *    [[graft.streaming.LocalCheckpointFileManager]]). Spark reads the
  *    class from the Hadoop conf of every session, clone and state store.
  *    Its default, `FileContextBasedCheckpointFileManager`, goes through
  *    Hadoop's local `FileContext`, which without a native Hadoop library
  *    forks a `chmod` on every create and mkdir and a `readlink` on every
  *    link-status probe: 10 processes per atomic write of a tiny file
  *    (2 `chmod` on create, 8 `readlink` in the rename). Per write, 100
  *    writes after 100 warm-up ones in jshell on a 4-core box: 28–31 ms
  *    through `FileContext`, 5.9–7.1 ms through Spark's
  *    `FileSystemBasedCheckpointFileManager`, 0.4–0.5 ms through java.nio.
  *    The benchmark's `ingest_load` started 1,441 processes per run,
  *    1,064 of them `readlink`; with the java.nio manager it starts 27,
  *    none from a checkpoint, and `streaming.commit_ms` (walCommit +
  *    commitOffsets) fell from 324 to 8 ms per pass (one traced run each,
  *    local[4]). `FileSystemBasedCheckpointFileManager` was not taken: it
  *    still forks `chmod`, and it changes rename semantics on every
  *    scheme, not only `file:`. Other schemes keep Spark's `FileContext`
  *    path.
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
    .config("spark.sql.artifact.isolation.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.sql.streaming.checkpointFileManagerClass",
      classOf[graft.streaming.LocalCheckpointFileManager].getName)
}
