package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The scale-parameter registry contract (SURVEY §6.7, VERDICT r13
  * item 3): every knob in [[Knobs.all]] resolves its `spark.graft.*`
  * conf override, the SURVEY table stays in sync with the registry, and
  * the LSH plane-count rule behaves as documented at the boundaries. */
class KnobsSpec extends SparkSuite {

  private def accessor(key: String): SparkSession => Long = key match {
    case Knobs.LshTargetOccupancyKey => Knobs.lshTargetOccupancy
    case Knobs.MinhashTargetOccupancyKey => Knobs.minhashTargetOccupancy
    case Knobs.SimhashTargetOccupancyKey => Knobs.simhashTargetOccupancy
    case Knobs.PhashBandOccupancyKey => Knobs.phashBandOccupancy
    case Knobs.UpsertPkBucketsKey => s => Knobs.upsertPkBuckets(s).toLong
    case Knobs.ComponentsBroadcastMaxEdgesKey => Knobs.componentsBroadcastMaxEdges
    case Knobs.GraphBroadcastMaxNodesKey => Knobs.graphBroadcastMaxNodes
    case Knobs.KmeansRoundsKey => s => Knobs.kmeansRounds(s).toLong
    case Knobs.KcorePeelRoundsKey => s => Knobs.kcorePeelRounds(s).toLong
    case Knobs.TrussRoundsKey => s => Knobs.trussRounds(s).toLong
    case Knobs.LabelPropRoundsKey => s => Knobs.labelPropRounds(s).toLong
    case Knobs.BfsRoundsKey => s => Knobs.bfsRounds(s).toLong
    case other => fail(s"knob $other has no accessor mapping in this spec")
  }

  test("every registered knob returns its default unset and its conf override when set") {
    Knobs.all.foreach { case (key, dflt, _) =>
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

  test("knob keys are unique, spark.graft.-prefixed, and classed capacity|capacity-result|rounds") {
    val keys = Knobs.all.map(_._1)
    assert(keys.distinct.size === keys.size, "duplicate knob keys")
    keys.foreach(k => assert(k.startsWith("spark.graft."), s"bad prefix: $k"))
    Knobs.all.foreach { case (k, _, cls) =>
      assert(Set("capacity", "capacity-result", "rounds")(cls), s"$k class $cls")
    }
    // the sketch occupancies whose derived bucketing is PART of the
    // published candidate sets must carry the capacity-result class
    // (ADVICE r14: the old 'capacity / tune freely' label promised
    // result-neutrality these knobs don't have)
    val byKey = Knobs.all.map(t => t._1 -> t._3).toMap
    assert(byKey(Knobs.LshTargetOccupancyKey) === "capacity-result")
    assert(byKey(Knobs.MinhashTargetOccupancyKey) === "capacity-result")
    assert(byKey(Knobs.SimhashTargetOccupancyKey) === "capacity-result")
    // phash banding is pure capacity: the pigeonhole makes the pair set
    // identical at both band settings (see Multimodal.phashBandCount)
    assert(byKey(Knobs.PhashBandOccupancyKey) === "capacity")
  }

  test("every spark.graft. conf key read in src/main is a registered knob or a documented switch") {
    // the two switches outside Knobs.all: the reliable-checkpoint dir
    // (Tuning, RoundPin, Components) and the dedup collapse parity hook
    val switches = Set("spark.graft.checkpointDir", "spark.graft.dedup.forceCollapse")
    val allowed = Knobs.all.map(_._1).toSet ++ switches
    val key = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator()
      .asScala.filter(p => p.toString.endsWith(".scala")).toList
    assert(files.size > 50, s"source walk broke: ${files.size} files")
    val found = files.flatMap(p => key.findAllMatchIn(java.nio.file.Files.readString(p))
      .map(m => s"${p.getFileName}: ${m.group(1)}"))
    assert(found.size >= Knobs.all.size, s"key scan broke: $found")
    val undeclared = found.filterNot(f => allowed(f.split(": ")(1)))
    assert(undeclared.isEmpty, s"conf keys outside Knobs.all: ${undeclared.mkString(", ")}")
  }

  test("SURVEY §6.7 table lists exactly the registered knobs with their defaults") {
    val src = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
    val rows = try src.getLines()
      .flatMap("""^\| `(spark\.graft\.[a-zA-Z.]+)` \| (\d+) \|""".r.findFirstMatchIn(_))
      .map(m => m.group(1) -> m.group(2)).toMap
    finally src.close()
    val registry = Knobs.all.map { case (k, d, _) => k -> d }.toMap
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
    // occupancy knob: larger target → fewer planes
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
    // occupancy knob: larger budget → fewer rows (cheaper banding)
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

  test("a capacity-result knob reaches the plan: lsh.targetOccupancy=1 widens bucket fan-out and the occ-keyed knn cache stays consistent") {
    // end-to-end evidence for a CAPACITY knob (VERDICT r14 item 7 —
    // rounds knobs had this, capacity knobs were accessor-only): on the
    // dev fixture (500 vectors) occ=1 derives 9 planes instead of 8, so
    // the REAL bucketing expression fans out into strictly more distinct
    // buckets; and because the knn-graph ArtifactCache keys on the
    // resolved occupancy (ADVICE r14), a retune mid-session rebuilds the
    // graph instead of serving the stale 8-plane artifact, while
    // unsetting restores the original cached result bit-for-bit.
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.col
    def fanOut(): Long = {
      val planes = graft.operators.VectorOps.lshPlanesFor(spark, dir)
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select(graft.functions.LshBucket.lsh_bucket(col("embedding"), planes).as("b"))
        .distinct().count()
    }
    def knnGraph(): Seq[String] =
      SparkEntry.queries("vec_knn_graph")(spark, dir).collect().map(_.toString).toSeq
    spark.conf.unset(Knobs.LshTargetOccupancyKey)
    val fan8 = fanOut()
    val graph8 = knnGraph()
    spark.conf.set(Knobs.LshTargetOccupancyKey, "1")
    val (fan9, graph9) =
      try (fanOut(), knnGraph()) finally spark.conf.unset(Knobs.LshTargetOccupancyKey)
    assert(graft.operators.VectorOps.lshPlaneCount(500, targetOcc = 1) === 9)
    assert(fan9 > fan8, s"occ=1 must widen bucket fan-out (got $fan8 -> $fan9)")
    assert(graph9 !== graph8, "the 9-plane knn graph must differ from the 8-plane default")
    assert(knnGraph() === graph8,
      "unsetting the knob must serve the ORIGINAL default-occupancy graph (occ-keyed cache)")
  }

  test("a rounds knob reaches the plan: kmeans at 1 Lloyd round differs from the default 3") {
    // end-to-end evidence the conf override is consumed by the operator,
    // not just by the accessor: fewer Lloyd rounds = a different (less
    // converged) clustering on the dev fixture. Restore the default and
    // re-run to prove the override was the only cause.
    val dir = "/root/testdata/sf0.001"
    def run(): Seq[String] =
      SparkEntry.queries("vec_kmeans")(spark, dir).collect().map(_.toString).toSeq
    spark.conf.unset(Knobs.KmeansRoundsKey)
    val dflt = run()
    spark.conf.set(Knobs.KmeansRoundsKey, "1")
    val one = try run() finally spark.conf.unset(Knobs.KmeansRoundsKey)
    assert(one !== dflt, "1-round clustering must differ from the 3-round default")
    assert(run() === dflt, "unsetting the knob restores the default result")
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
