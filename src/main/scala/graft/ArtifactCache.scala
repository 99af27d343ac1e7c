package graft

/** Process-level memoizer for per-source-dir derived artifacts (the
  * co-purchase graph edge set, cluster-label frames, PQ codebooks, shared
  * persisted subtrees). Two guarantees the raw `TrieMap.getOrElseUpdate`
  * idiom it replaces did NOT give:
  *
  *  - '''single-flight build''': the builder runs at most once per key.
  *    `TrieMap.getOrElseUpdate` may evaluate the builder concurrently on
  *    first access and discard one result — for artifacts that are
  *    context-cached RDDs, the loser's cached partitions were never
  *    unpersisted and leaked executor memory for the JVM lifetime.
  *    Builds here run under the cache lock; builders are side-effecting
  *    Spark jobs that take seconds and run once per (JVM, dir), so lock
  *    granularity is irrelevant next to build cost.
  *
  *  - '''eviction''': `evict(key)` / `evictAll()` drop entries and run the
  *    cache's `release` callback (unpersist cached RDDs/frames). Bounded
  *    by construction in this harness (≤2 dirs per JVM), but a long-lived
  *    multi-tenant driver serving many dirs needs the hook — Bench and
  *    Verify call [[ArtifactCache.evictAllCaches]] on teardown and the
  *    eviction spec proves release actually unpersists.
  *
  * Every instance auto-registers in a process-wide registry so teardown
  * code can evict everything without knowing each operator bank's caches,
  * and DECLARES how it is pre-built: a [[ArtifactCache.PerDir]] warm is a
  * `(spark, dir) => Unit` builder [[ArtifactCache.warmAll]] runs untimed
  * before any bench sweep. Hand-listing warmups in Bench missed three
  * artifacts across rounds 10–12 (PQ codebook, component labels,
  * dedup_cluster's label fixpoint — the last timed 4.56 s in-sweep vs
  * 0.056 s isolated); co-locating the builder with the cache makes the
  * warm set mechanical, and OperatorSpec's no-growth sweep proves no
  * PerDir cache ever builds inside a query after warmAll.
  */
final class ArtifactCache[V](val name: String, release: V => Unit,
    private[graft] val warm: ArtifactCache.Warm) {
  ArtifactCache.register(this)
  private val m = scala.collection.mutable.HashMap.empty[String, V]

  /** Memoized lookup; `build` runs at most once per key, single-flight. */
  def getOrElseUpdate(key: String, build: => V): V =
    synchronized { m.getOrElseUpdate(key, build) }

  /** Insert (replacing and RELEASING any previous value for the key) —
    * the at-most-one-live-entry discipline persistShared sites use.
    * `v` is BY-NAME and evaluated only after the previous entry is
    * released: persistShared passes `df.persist()`, and when a rebuilt
    * frame has the SAME plan as the entry it replaces (same dir), Spark's
    * CacheManager unpersists by plan equality — releasing the old entry
    * after the new persist would silently uncache the new frame too. */
  def put(key: String, v: => V): V = synchronized {
    m.remove(key).foreach(release)
    val value = v
    m.update(key, value)
    value
  }

  def evict(key: String): Unit =
    synchronized { m.remove(key).foreach(release) }

  def evictAll(): Unit = synchronized {
    m.valuesIterator.foreach(release)
    m.clear()
  }

  private[graft] def size: Int = synchronized(m.size)
  private[graft] def keys: Set[String] = synchronized(m.keySet.toSet)
}

object ArtifactCache {
  /** How a cache's entries come into being — the warm contract every
    * instance must declare at construction. */
  sealed trait Warm
  /** Keyed by source dir; `build(spark, dir)` materializes the artifact.
    * [[warmAll]] runs every PerDir builder, so the bench sweep (and its
    * ISOLATED reruns) never time a one-off artifact build inside a
    * query entry. */
  final case class PerDir(
      build: (org.apache.spark.sql.SparkSession, String) => Unit) extends Warm
  /** Keyed by query-site (not dir): entries are query-local pins built
    * and replaced as part of each query's own plan — there is nothing
    * dir-shaped to pre-build. Exempt from warmAll and from the
    * no-growth sweep; `why` documents the exemption. */
  final case class KeyDriven(why: String) extends Warm

  private val registry = scala.collection.mutable.Buffer.empty[ArtifactCache[_]]
  private def register(c: ArtifactCache[_]): Unit =
    registry.synchronized { registry += c }

  /** Snapshot of every cache constructed so far (object-init order).
    * Callers that need the FULL set must force operator-object init
    * first — [[Warmups.loadAll]] is that hook. */
  private[graft] def caches: Seq[ArtifactCache[_]] =
    registry.synchronized { registry.toVector }

  /** Run every PerDir builder for `dir`, each in its own try so one
    * failed build cannot silently skip the rest (its consumer query
    * would then pay the build in-sweep — the exact attribution defect
    * this registry exists to kill). Returns the names that failed. */
  def warmAll(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] =
    warmAllTimed(spark, dir).collect { case (name, _, false) => name }

  /** [[warmAll]] with per-builder wall seconds: (name, sec, ok) per PerDir
    * entry. Bench prints these so the untimed warm block's artifact builds
    * are ITEMIZED in the round record instead of invisible (a per-dir
    * artifact's whole computation otherwise happens outside every query's
    * timing — correct for multi-consumer reuse, but the cost must appear
    * somewhere; VERDICT r16 item 6). Builders are memoized getOrElseUpdate
    * calls, so a repeat warm times ~0 — only the first warm per (JVM, dir)
    * carries the build. */
  def warmAllTimed(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, Double, Boolean)] =
    caches.flatMap { c =>
      c.warm match {
        case PerDir(build) =>
          val (sec, ok) = Measure.timed("warm", s"artifact '${c.name}'")(build(spark, dir))
          Some((c.name, sec, ok))
        case _: KeyDriven => None
      }
    }

  /** Evict every artifact cache in the process — the Bench/Verify teardown
    * hook (and the lever a long-lived driver pulls between corpora). */
  def evictAllCaches(): Unit =
    registry.synchronized { registry.foreach(_.evictAll()) }
}
