package graft

import org.apache.spark.sql.SparkSession

/** The ONE warmup entrypoint Bench (sweep + ISOLATED reruns) and the
  * no-growth spec share. Hand-listing artifact warmups in Bench missed
  * three builds across rounds 10–12 (PQ codebook, component labels,
  * dedup_cluster's label fixpoint — 4.56 s timed in-sweep vs 0.056 s
  * isolated); the warm builders now live ON each [[ArtifactCache]]
  * (declared at construction, next to the cache they fill), and this
  * object only (a) forces the operator-bank objects to load so every
  * cache has registered, and (b) stages the handful of filesystem
  * fixtures that are not ArtifactCaches (bucketed tables, jsonl/csv
  * staging, stream input dirs — these are idempotent dir writes, not
  * memoized Spark state).
  */
object Warmups {

  /** Force init of every object that constructs an [[ArtifactCache]]:
    * `Tables` and the operator banks. Scala object init runs on first
    * reference; without this, a cache in a not-yet-touched bank would
    * be invisible to [[ArtifactCache.warmAll]] and its first consumer
    * query would pay the build in-sweep. */
  def loadAll(): Unit = {
    val _ = (Tables, SparkEntry.banks)
  }

  /** Stage fixtures + build every PerDir artifact for `dir`, each step
    * in its own try (one failed fixture must not silently skip the
    * rest — a timed query would then pay its staging cost). Returns the
    * labels that failed, for callers that want to surface them. */
  def warmAll(spark: SparkSession, dir: String): Seq[String] =
    warmAllTimed(spark, dir).collect { case (name, _, false) => name }

  /** [[warmAll]] with per-step wall seconds ((label, sec, ok) per fixture
    * and per PerDir artifact build) — Bench itemizes these in its output
    * so the untimed warm block's cost is visible in the round record
    * (VERDICT r16 item 6; see ArtifactCache.warmAllTimed). */
  def warmAllTimed(spark: SparkSession, dir: String): Seq[(String, Double, Boolean)] = {
    loadAll()
    def step(label: String)(body: => Unit): (String, Double, Boolean) = {
      val (sec, ok) = Measure.timed("warm", s"fixture '$label'")(body)
      (label, sec, ok)
    }
    val fixtures = Seq(
      step("bucketed tables")(operators.ScaleOps.prepareBucketed(spark, dir)),
      step("jsonl/csv staging")(operators.EtlOps.stageFixtures(spark, dir)),
      step("upsert input")(streaming.Streams.stageUpsertInput(spark, dir)),
      step("dedup-near doc batches")(streaming.StreamDedup.stageDocBatches(spark, dir)))
    fixtures ++ ArtifactCache.warmAllTimed(spark, dir)
  }
}
