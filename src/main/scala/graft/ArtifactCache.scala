package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

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
  * PerDir cache ever builds inside a query after warmAll. Staged
  * [[Fixture]]s register in the same registry.
  */
final class ArtifactCache[V](val name: String, release: V => Unit,
    private[graft] val warm: ArtifactCache.Warm) extends ArtifactCache.Warmable {
  ArtifactCache.register(this)
  private val m = scala.collection.mutable.HashMap.empty[String, V]

  private[graft] def label: String = name
  private[graft] val warmer: Option[(SparkSession, String) => Unit] = warm match {
    case ArtifactCache.PerDir(build) => Some(build)
    case _: ArtifactCache.KeyDriven => None
  }

  /** Memoized lookup; `build` runs at most once per key, single-flight. */
  def getOrElseUpdate(key: String, build: => V): V = synchronized {
    m.getOrElseUpdate(key, if (warmer.isEmpty) build else ArtifactCache.bill(this)(build))
  }

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
  /** Every [[Pinned]] frame the entries hold (none for a non-frame cache). */
  private[graft] def pins: Seq[Pinned] =
    synchronized(m.valuesIterator.flatMap(ArtifactCache.pinsOf).toVector)
}

/** A derived frame kept for reuse across queries. This is the one place
  * the policy for a shared per-dir artifact frame is decided;
  * [[Pinned.apply]]:
  *  - pins the frame's RDD (`df.rdd.persist`), not the plan through the
  *    CacheManager, so it survives the `spark.catalog.clearCache()` that
  *    Bench and the tests run between queries; only [[ArtifactCache]]
  *    eviction releases it;
  *  - stores it `MEMORY_AND_DISK`, so under memory pressure blocks spill to
  *    the local dirs instead of being dropped and rebuilt, lineage and all,
  *    inside whichever consumer query reads them next;
  *  - forces it with one `count()`, kept as [[rows]], so the build runs in
  *    the untimed warm block ([[ArtifactCache.warmAll]]) and no consumer
  *    query pays for it.
  * [[on]] re-roots the frame on the caller's session, so every consumer
  * plans under its own conf.
  *
  * Deliberately not pinned this way:
  *  - `Tables.persistShared` / `persistSharedPerDir`: CacheManager pins that
  *    `clearCache` strips on purpose. `embStore` feeds `vec_cosine_topk`;
  *    pinned at the RDD level it would keep a source table cached across
  *    queries, which reads as result caching.
  *  - `RoundPin` and `Components`' per-round loop pin: query-local lineage
  *    cuts, and the loop pin has its reliable-checkpoint branch.
  *  - the collected-row caches (`cbCache`, `itemCfCache`, `userCfCache`):
  *    driver-side rows, nothing to persist.
  */
final class Pinned private (private[graft] val rdd: RDD[Row],
    schema: StructType, val rows: Long) {
  /** The pinned frame on session `s`. */
  def on(s: SparkSession): DataFrame = s.createDataFrame(rdd, schema)
  private[graft] def release(): Unit = rdd.unpersist(blocking = false)
}

object Pinned {
  def apply(df: DataFrame): Pinned = {
    val rdd = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    new Pinned(rdd, df.schema, rdd.count())
  }
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
      build: (SparkSession, String) => Unit) extends Warm
  /** Keyed by query-site (not dir): entries are query-local pins built
    * and replaced as part of each query's own plan — there is nothing
    * dir-shaped to pre-build. Exempt from warmAll and from the
    * no-growth sweep; `why` documents the exemption. */
  final case class KeyDriven(why: String) extends Warm

  /** A [[PerDir]] cache of [[Pinned]] frames. An entry is a `Pinned` or a
    * tuple holding some; releasing it releases every `Pinned` in it. */
  def frames[V](name: String)(build: (SparkSession, String) => Unit): ArtifactCache[V] =
    new ArtifactCache[V](name, pinsOf(_).foreach(_.release()), PerDir(build))

  private def pinsOf(v: Any): Seq[Pinned] = v match {
    case p: Pinned => Seq(p)
    case t: Product => t.productIterator.flatMap(pinsOf).toSeq
    case _ => Nil
  }

  /** One entry of the warm registry: a cache or a [[Fixture]]. `warmer`
    * is what the warm block runs for a source dir (None: nothing
    * dir-shaped to pre-build). */
  private[graft] trait Warmable {
    private[graft] def label: String
    private[graft] def warmer: Option[(SparkSession, String) => Unit]
    /** Nanoseconds of this entry's own builds ([[bill]]). */
    private[graft] val billedNanos = new java.util.concurrent.atomic.AtomicLong
  }

  private val registry = scala.collection.mutable.Buffer.empty[Warmable]
  private[graft] def register(w: Warmable): Unit =
    registry.synchronized { registry += w }

  /** Every registered entry, in registration order, after loading every
    * object that declares one (`Tables` and the operator banks): Scala
    * object init runs on first reference, and an entry in a not yet
    * touched bank would otherwise be missing from the warm set. */
  private def entries: Seq[Warmable] = {
    val _ = (Tables, SparkEntry.banks)
    registry.synchronized { registry.toVector }
  }
  private[graft] def caches: Seq[ArtifactCache[_]] =
    entries.collect { case c: ArtifactCache[_] => c }
  private[graft] def fixtures: Seq[Fixture] =
    entries.collect { case f: Fixture => f }

  // the builds open on this thread, innermost first; each counts the
  // nanoseconds of the builds nested in it
  private val open = ThreadLocal.withInitial[List[Array[Long]]](() => Nil)

  /** Run `build` for `w` and add its own wall time to `w.billedNanos`:
    * its elapsed time minus that of the builds of other entries nested
    * inside it, which bill themselves. So the "LPA labels" build is not
    * billed the co-purchase graph it builds first. */
  private[graft] def bill[T](w: Warmable)(build: => T): T = {
    val nested = Array(0L)
    open.set(nested :: open.get)
    val t0 = System.nanoTime()
    try build finally {
      val elapsed = System.nanoTime() - t0
      open.set(open.get.tail)
      open.get.headOption.foreach(_(0) += elapsed)
      w.billedNanos.addAndGet(elapsed - nested(0))
    }
  }

  /** Stage every [[Fixture]] and run every PerDir builder for `dir`, each
    * in its own try so one failed build cannot silently skip the rest (its
    * consumer query would then pay the build in-sweep — the exact
    * attribution defect this registry exists to kill). Returns the labels
    * that failed. */
  def warmAll(spark: SparkSession, dir: String): Seq[String] =
    warmAllTimed(spark, dir).collect { case (label, _, false) => label }

  /** [[warmAll]] with each entry's own build seconds: (label, sec, ok).
    * Bench prints these so the untimed warm block is ITEMIZED in the round
    * record instead of invisible (VERDICT r16 item 6). An entry built
    * inside another's build is billed to itself, not to the one that
    * needed it, and the seconds still sum to the block's wall time.
    * Builds are memoized, so a repeat warm times ~0. */
  def warmAllTimed(spark: SparkSession, dir: String): Seq[(String, Double, Boolean)] =
    warmTimed(spark, dir, entries)

  private[graft] def warmTimed(spark: SparkSession, dir: String,
      ws: Seq[Warmable]): Seq[(String, Double, Boolean)] = {
    val warmers = ws.flatMap(w => w.warmer.map(w -> _))
    val before = warmers.map(_._1.billedNanos.get)
    val oks = warmers.map { case (w, run) =>
      Measure.timed("warm", w.label)(bill(w)(run(spark, dir)))._2
    }
    warmers.zip(before).zip(oks).map { case (((w, _), b), ok) =>
      (w.label, (w.billedNanos.get - b) / 1e9, ok)
    }
  }

  /** Evict every artifact cache in the process — the Bench/Verify teardown
    * hook (and the lever a long-lived driver pulls between corpora). */
  def evictAllCaches(): Unit =
    registry.synchronized { registry.collect { case c: ArtifactCache[_] => c.evictAll() } }
}
