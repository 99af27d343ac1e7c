package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** graft.ArtifactCache: the process-level artifact memoizer must build
  * single-flight (the TrieMap.getOrElseUpdate idiom it replaced could run
  * a builder twice concurrently and leak the loser's cached RDDs) and must
  * actually release resources on eviction. */
class ArtifactCacheSpec extends AnyFunSuite {

  test("single-flight: a racing first access builds exactly once") {
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    val c = new ArtifactCache[Int]("test-single-flight", _ => (),
      ArtifactCache.KeyDriven("unit fixture"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = c.getOrElseUpdate("k", {
            Thread.sleep(25) // widen the race window
            built.incrementAndGet(); 42
          })
        })
      }
      assert(tasks.map(_.get()).toSet === Set(42))
      assert(built.get() === 1, "builder ran more than once for one key")
    } finally pool.shutdown()
  }

  test("evict runs release exactly once; entry rebuilds after eviction") {
    var released = List.empty[Int]
    val c = new ArtifactCache[Int]("test-release", v => released ::= v,
      ArtifactCache.KeyDriven("unit fixture"))
    assert(c.getOrElseUpdate("k", 7) === 7)
    c.evict("k")
    c.evict("k") // second evict of an absent key is a no-op
    assert(released === List(7))
    assert(c.getOrElseUpdate("k", 9) === 9, "evicted key must rebuild")
    c.evictAll()
    assert(released === List(9, 7))
    assert(c.size === 0)
  }

  test("put replaces and releases the previous value (persistShared discipline)") {
    var released = List.empty[Int]
    val c = new ArtifactCache[Int]("test-release", v => released ::= v,
      ArtifactCache.KeyDriven("unit fixture"))
    c.put("site", 1)
    c.put("site", 2)
    assert(released === List(1), "put must release the value it displaced")
    assert(c.getOrElseUpdate("site", 99) === 2)
    assert(c.size === 1)
  }

  test("evictAllCaches unpersists the memoized graph-artifact RDDs and allows rebuild") {
    val spark = SparkSuite.spark
    val sc = spark.sparkContext
    ArtifactCache.evictAllCaches() // start from a clean registry state
    val base = sc.getPersistentRDDs.keySet
    // basket_pairs materializes the coPurchaseGraph artifact (2 cached RDDs)
    val n1 = SparkEntry.queries("basket_pairs")(spark, SparkSuite.sf).count()
    val added = sc.getPersistentRDDs.keySet -- base
    assert(added.nonEmpty, "expected the graph artifact to register cached RDDs")
    ArtifactCache.evictAllCaches()
    val leaked = sc.getPersistentRDDs.keySet.intersect(added)
    assert(leaked.isEmpty, s"evictAllCaches leaked RDD ids: $leaked")
    // and the artifact rebuilds transparently on next use
    assert(SparkEntry.queries("basket_pairs")(spark, SparkSuite.sf).count() === n1)
  }

  test("supplierServiceGraph memoizes one build shared by pagerank and ppr") {
    val spark = SparkSuite.spark
    val sc = spark.sparkContext
    ArtifactCache.evictAllCaches()
    val base = sc.getPersistentRDDs.keySet
    val (e1, d1, n1) = operators.AnalyticsOps.supplierServiceGraph(spark, SparkSuite.sf)
    val added = sc.getPersistentRDDs.keySet -- base
    assert(added.size === 2, s"expected edge+degree cached RDDs, got $added")
    assert(n1 > 0 && d1.count() === n1)
    // second access returns the SAME cached RDDs — no rebuild
    val (e2, _, n2) = operators.AnalyticsOps.supplierServiceGraph(spark, SparkSuite.sf)
    assert(n2 === n1)
    assert(sc.getPersistentRDDs.keySet -- base === added, "second access rebuilt")
    assert(e1.count() === e2.count())
    // degrees in the artifact match a fresh recount over the edges
    val recount = e1.groupBy(org.apache.spark.sql.functions.col("src"))
      .count().count()
    assert(recount === n1)
    // the artifact survives catalog.clearCache (the between-queries hygiene)
    spark.catalog.clearCache()
    assert(sc.getPersistentRDDs.keySet.intersect(added) === added,
      "clearCache must not drop the context-level artifact RDDs")
    ArtifactCache.evictAllCaches()
    assert(sc.getPersistentRDDs.keySet.intersect(added).isEmpty, "eviction leaked")
  }

  test("the frame pin is decided in graft.Pinned only: no MEMORY_AND_DISK or .rdd.persist( elsewhere in src/main") {
    val needles = Seq("StorageLevel.MEMORY_AND_DISK", ".rdd.persist(")
    // Components keeps its per-round loop pin (reliable-checkpoint branch)
    val allowed = Set("ArtifactCache.scala", "Components.scala")
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
    assert(files.size > 50, s"source walk broke: ${files.size} files")
    val hits = for {
      p <- files if !allowed(p.getFileName.toString)
      n <- needles if Files.readString(p).contains(n)
    } yield s"$p: $n"
    assert(hits.isEmpty, s"frame pinned outside graft.Pinned: ${hits.mkString(", ")}")
  }

  test("after warmAll every frame a PerDir cache holds is MEMORY_AND_DISK with all partitions cached") {
    val spark = SparkSuite.spark
    ArtifactCache.evictAllCaches()
    val failed = Warmups.warmAll(spark, SparkSuite.sf)
    assert(failed.isEmpty, s"warmups failed: $failed")
    val pins = ArtifactCache.caches.collect {
      case c if c.warm.isInstanceOf[ArtifactCache.PerDir] => c.pins.map(c.name -> _)
    }.flatten
    assert(pins.map(_._1).distinct.size >= 14 && pins.size >= 18,
      s"expected the 14 frame caches' 18 frames, got ${pins.map(_._1)}")
    // getRDDStorageInfo lists only RDDs with at least one cached block
    val info = spark.sparkContext.getRDDStorageInfo.map(i => i.id -> i).toMap
    val bad = pins.collect { case (name, p) if !info.get(p.rdd.id).exists(i =>
        i.storageLevel == StorageLevel.MEMORY_AND_DISK &&
          i.numCachedPartitions == i.numPartitions) =>
      s"$name: ${info.get(p.rdd.id).fold("nothing cached")(_.toString)}"
    }
    assert(bad.isEmpty, s"frames not pinned and forced by warmAll: ${bad.mkString("; ")}")
  }
}
