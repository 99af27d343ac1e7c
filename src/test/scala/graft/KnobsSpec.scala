package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The scale-parameter registry contract (SURVEY §6.7, VERDICT r13
  * item 3): every knob in [[Knobs.all]] resolves its `spark.graft.*`
  * conf override and changes no result, Knobs is the only module that
  * names a `spark.graft.*` key, the SURVEY table stays in sync with the
  * registry, and the sketch sizing rules behave as documented at the
  * boundaries. */
class KnobsSpec extends SparkSuite {

  private def accessor(key: String): SparkSession => Long = key match {
    case Knobs.PhashBandOccupancyKey => Knobs.phashBandOccupancy
    case Knobs.UpsertPkBucketsKey => s => Knobs.upsertPkBuckets(s).toLong
    case Knobs.ComponentsBroadcastMaxEdgesKey => Knobs.componentsBroadcastMaxEdges
    case Knobs.GraphBroadcastMaxNodesKey => Knobs.graphBroadcastMaxNodes
    case other => fail(s"knob $other has no accessor mapping in this spec")
  }

  /** Each knob's extreme value and the queries that read it. */
  private val consumers: Map[String, (String, Seq[String])] = Map(
    Knobs.PhashBandOccupancyKey -> ("0", Seq("mm_phash")),
    Knobs.UpsertPkBucketsKey -> ("8", Seq("stream_upsert_sink")),
    Knobs.ComponentsBroadcastMaxEdgesKey -> ("0", Seq("dedup_cluster")),
    Knobs.GraphBroadcastMaxNodesKey -> ("0", Seq("graph_pagerank", "graph_label_prop",
      "graph_kcore", "graph_ktruss", "graph_bfs_hops", "text_textrank")))

  test("every registered knob returns its default unset and its conf override when set") {
    Knobs.all.foreach { case (key, dflt) =>
      val get = accessor(key)
      spark.conf.unset(key)
      assert(get(spark) === dflt.toLong, s"$key default")
      // an override distinct from every registry default
      val override_ = dflt.toLong * 2 + 1
      spark.conf.set(key, override_.toString)
      try assert(get(spark) === override_, s"$key override not respected")
      finally spark.conf.unset(key)
    }
  }

  test("knob keys are unique and spark.graft.-prefixed") {
    val keys = Knobs.all.map(_._1)
    assert(keys.distinct.size === keys.size, "duplicate knob keys")
    keys.foreach(k => assert(k.startsWith("spark.graft."), s"bad prefix: $k"))
  }

  test("every spark.graft. conf key read in src/main is a registered knob or a documented switch") {
    // Knobs is the only module that names a key: every other module reads
    // a knob or one of the two switches (the reliable-checkpoint dir and
    // the dedup collapse parity hook) through its accessor
    val allowed = Knobs.all.map(_._1).toSet + Knobs.CheckpointDirKey + Knobs.ForceCollapseKey
    val key = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator()
      .asScala.filter(p => p.toString.endsWith(".scala")).toList
    assert(files.size > 50, s"source walk broke: ${files.size} files")
    val found = files.flatMap(p => key.findAllMatchIn(java.nio.file.Files.readString(p))
      .map(m => p.getFileName.toString -> m.group(1)))
    val outside = found.filterNot(_._1 == "Knobs.scala")
    assert(outside.isEmpty,
      s"spark.graft. literals outside Knobs.scala: ${outside.map(f => s"${f._1}: ${f._2}").mkString(", ")}")
    assert(found.map(_._2).toSet === allowed, s"Knobs.scala declares ${found.map(_._2)}")
  }

  test("SURVEY §6.7 table lists exactly the registered knobs with their defaults") {
    val src = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
    val rows = try src.getLines()
      .flatMap("""^\| `(spark\.graft\.[a-zA-Z.]+)` \| (\d+) \|""".r.findFirstMatchIn(_))
      .map(m => m.group(1) -> m.group(2)).toMap
    finally src.close()
    val registry = Knobs.all.toMap
    assert(rows === registry,
      s"SURVEY §6.7 drifted from Knobs.all: doc-only ${rows.keySet -- registry.keySet}, " +
        s"registry-only ${registry.keySet -- rows.keySet}, " +
        s"value drift ${registry.filter { case (k, d) => rows.get(k).exists(_ != d) }.keys}")
  }

  test("lshPlaneCount: integer rule boundaries and monotonicity") {
    import graft.operators.VectorOps.lshPlaneCount
    // floor: every oracle fixture scale stays at the historical 8 planes
    assert(lshPlaneCount(500) === 8)
    assert(lshPlaneCount(2000) === 8)
    assert(lshPlaneCount(8L << 8) === 8) // boundary: occ·2^8 exactly
    assert(lshPlaneCount((8L << 8) + 1) === 9)
    assert(lshPlaneCount(20000) === 12) // SURVEY §6.5b's sf~1 prescription
    assert(lshPlaneCount(1000000000L) === 27)
    // cap at 30 planes (bucket must fit an INT; SQL mirrors via coalesce)
    assert(lshPlaneCount(Long.MaxValue / 16) === 30)
    // monotone non-decreasing in n
    val counts = (1 to 60).map(i => lshPlaneCount(1L << (i / 2)))
    assert(counts === counts.sorted, "plane count must be monotone in n")
    // occupancy parameter: larger target → fewer planes
    assert(lshPlaneCount(20000, targetOcc = 128) === 8)
  }

  test("bandRows: minhash rows-per-band rule boundaries and monotonicity") {
    import graft.operators.MinHashDedup.bandRows
    // floor: r=4 (K=16, the historical signatures) at every fixture,
    // bench and ×10 rehearsal scale
    assert(bandRows(500) === 4)
    assert(bandRows(5000) === 4)
    assert(bandRows(50000) === 4)  // sfscale1 docs
    assert(bandRows(256L << 8) === 4)   // boundary: occ·4^4 exactly
    assert(bandRows((256L << 8) + 1) === 5)
    assert(bandRows(256L << 10) === 5)
    assert(bandRows(1000000000L) === 11)
    // cap at 16 rows (K=64); past occ·4^16 the scale path is wider shingles
    assert(bandRows(Long.MaxValue / 2) === 16)
    val rs = (1 to 60).map(i => bandRows(1L << i))
    assert(rs === rs.sorted, "rows-per-band must be monotone in n")
    // occupancy parameter: larger budget → fewer rows (cheaper banding)
    assert(bandRows(100000, occ = 4096) === 4)
  }

  test("simhashBucketBits: bucket-width rule boundaries; phashBandCount: 4-band floor and 3-band cap") {
    import graft.operators.MinHashDedup.simhashBucketBits
    import graft.operators.Multimodal.phashBandCount
    // 8 bits (the historical /256 bucket) at every fixture/bench scale
    assert(simhashBucketBits(500) === 8)
    assert(simhashBucketBits(5000) === 8)
    assert(simhashBucketBits(32L << 8) === 8)  // boundary: occ·2^8 exactly
    assert(simhashBucketBits((32L << 8) + 1) === 9)
    assert(simhashBucketBits(50000) === 11)    // sfscale1 docs
    // cap at the 16-bit signature width
    assert(simhashBucketBits(Long.MaxValue / 64) === 16)
    val bs = (1 to 50).map(i => simhashBucketBits(1L << i))
    assert(bs === bs.sorted, "bucket bits must be monotone in n")
    // phash: 4×16-bit bands at every current scale, 3×21-bit beyond
    assert(phashBandCount(500) === 4)
    assert(phashBandCount(50000) === 4)
    assert(phashBandCount(8L << 15) === 4)     // boundary: occ·2^15 exactly
    assert(phashBandCount((8L << 15) + 1) === 3)
    assert(phashBandCount(Long.MaxValue / 2) === 3,
      "3 bands is the floor — fewer would lose the hamming<=2 pigeonhole guarantee")
  }

  test("no knob changes a result: each knob at an extreme value") {
    // every knob is a capacity lever (SURVEY §6.7): at an extreme value
    // its consumers must publish the default run's rows. Each run evicts
    // the artifact caches first, so an artifact-backed consumer rebuilds
    // under the knob instead of serving the frame the other run cached.
    val dir = "/root/testdata/sf0.001"
    def run(q: String): Seq[String] = {
      ArtifactCache.evictAllCaches()
      SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq.sorted
    }
    val missing = Knobs.all.map(_._1).filterNot(consumers.contains)
    assert(missing.isEmpty, s"knobs without a consumer list: ${missing.mkString(", ")}")
    val changed = Knobs.all.flatMap { case (key, _) =>
      val (extreme, queries) = consumers(key)
      queries.filter { q =>
        spark.conf.unset(key)
        val dflt = run(q)
        spark.conf.set(key, extreme)
        try run(q) != dflt finally spark.conf.unset(key)
      }.map(q => s"$key=$extreme changed $q")
    }
    assert(changed.isEmpty, changed.mkString("; "))
  }

  test("lshPlanes: adaptive matrix extends the historical 8-plane prefix") {
    import graft.operators.VectorOps.lshPlanes
    val p8 = lshPlanes(8)
    val p12 = lshPlanes(12)
    assert(p8.size === 8 && p12.size === 12)
    assert(p12.take(8) === p8, "plane j is independent of the total count")
    assert(p8.forall(_.size === 64))
    // the integer formula's documented range
    assert(p12.flatten.forall(v => v >= -1.0 && v <= 1.0))
  }
}
