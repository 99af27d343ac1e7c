package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-rehearsal probe main (driver-side evidence tooling, like Bench
  * and Verify — never a library dependency): prints one JSON line of
  * MEASURED scale facts for the round's SCALE record.
  *
  * `pairwork <dir>` — the VERDICT r15 item-1 before/after: candidate
  * band-join row counts for the MinHash-LSH text path and the phash
  * hamming path, computed BOTH ways on the same corpus — per-doc banding
  * (the pre-collapse formulation, quadratic in exact-dup cluster size)
  * vs representative banding (the shipped collapse) — plus the codec
  * invocation counts (per-doc vs per-distinct-payload decode).
  *
  * `gates <dir>` — the VERDICT r15 item-2 gate audit: the co-purchase
  * graph's node/edge counts against the broadcast-gate knobs, the gate
  * decision each iterative family takes ON THIS DATA, and — when a gate
  * is naturally OFF — the physical-plan evidence that one propagation
  * round really runs the shuffle fallback (no BroadcastExchange on the
  * round join), followed by timed end-to-end runs of the node-gated
  * queries.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val dir = args(1)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = mode match {
      case "pairwork" => pairwork(spark, dir)
      case "gates"    => gates(spark, dir)
    }
    println(out)
    ArtifactCache.evictAllCaches()
    spark.stop()
    sys.exit(0)
  }

  private def pairwork(s: SparkSession, dir: String): String = {
    import graft.operators.MinHashDedup
    val nDocs = Tables.docCount(s, dir)
    val nDistinct = Tables.distinctDocCount(s, dir)
    val k = 4 * MinHashDedup.bandRows(nDistinct)
    val keyed = Tables.t(s, dir, "documents")
      .select(col("doc_id"), lower(col("text")).as("lt"))
      .withColumn("rep", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lt"))))
      .persist()
    def textJoinRows(docs: org.apache.spark.sql.DataFrame): Long = {
      val sig = MinHashDedup.signatures(
        docs.withColumn("toks", split(col("lt"), " ")),
        "doc_id", "toks", shingleWidth = 3, k = k)
      val b = MinHashDedup.banded(sig, "doc_id", k = k).persist()
      val n = b.as("a").join(b.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id")).count()
      b.unpersist(false)
      n
    }
    val textPerDoc = textJoinRows(keyed.select(col("doc_id"), col("lt")))
    val textRep = textJoinRows(keyed.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("lt")))
    // phash: decode once per distinct payload (cheap either way — the
    // POINT of the digest dedup), then band the hash frame at doc grain
    // vs distinct-hash grain
    import s.implicits._
    val nBands = graft.operators.Multimodal.phashBandCount(
      nDistinct, Knobs.phashBandOccupancy(s))
    val bandBits = if (nBands == 4) 16 else 21
    val bandMask = (1L << bandBits) - 1
    val repHash = keyed.filter(col("doc_id") === col("rep"))
      .select(col("rep"), encode(col("lt"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        graft.operators.Multimodal.resizePng63(id,
          graft.operators.Multimodal.encodePng(bytes)) })
      .toDF()
      .withColumn("stot", expr("aggregate(thumb, 0L, (a, x) -> a + x)"))
      .select(col("doc_id").as("rep"), expr(
        """aggregate(sequence(0, 62), 0L, (a, i) ->
           a + CASE WHEN thumb[i] * 63 > stot
                    THEN shiftleft(CAST(1 AS BIGINT), i) ELSE 0L END)""").as("phash"))
    val docHash = keyed.select(col("doc_id"), col("rep"))
      .join(repHash, "rep").select(col("doc_id"), col("phash")).persist()
    def phashJoinRows(hs: org.apache.spark.sql.DataFrame): Long = {
      val bands = hs.select(col("id"), col("phash"),
          explode(sequence(lit(0), lit(nBands - 1))).as("b"))
        .withColumn("bv",
          expr(s"shiftright(phash, CAST(b * $bandBits AS INT)) & $bandMask"))
        .persist()
      val n = bands.as("a").join(bands.as("b"),
        col("a.b") === col("b.b") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id")).count()
      bands.unpersist(false)
      n
    }
    val phashPerDoc = phashJoinRows(docHash.select(col("doc_id").as("id"), col("phash")))
    val phashRep = phashJoinRows(
      docHash.groupBy(col("phash")).agg(min(col("doc_id")).as("id")))
    docHash.unpersist(false); keyed.unpersist(false)
    s"""{"probe":"pairwork","dir":"$dir","n_docs":$nDocs,""" +
      s""""n_distinct":$nDistinct,"minhash_k":$k,""" +
      s""""text_band_join_rows":{"per_doc":$textPerDoc,"rep":$textRep},""" +
      s""""phash_bands":$nBands,""" +
      s""""phash_band_join_rows":{"per_doc":$phashPerDoc,"rep":$phashRep},""" +
      s""""png_decodes":{"per_doc":$nDocs,"rep":$nDistinct}}"""
  }

  private def gates(s: SparkSession, dir: String): String = {
    val (allPairs, nodes, nNodes) = graft.operators.AnalyticsOps.allPairsGraph(s, dir)
    val nAll = allPairs.count()
    val nW = allPairs.filter(col("n_orders") >= 2).count()
    val nodeGate = Knobs.graphBroadcastMaxNodes(s)
    val edgeGate = Knobs.componentsBroadcastMaxEdges(s)
    val nodeBcast = nNodes <= nodeGate
    // physical-plan evidence for one LPA round at the NATURAL gate
    val und = allPairs.filter(col("n_orders") >= 2)
    val adj = und.select(col("p1").as("src"), col("p2").as("dst"))
      .union(und.select(col("p2").as("src"), col("p1").as("dst")))
    val labels = nodes.select(col("node"), col("node").as("lbl"))
    val round = graft.operators.AnalyticsOps.lpaRound(adj, labels, nodeBcast)
    val plan = round.queryExecution.executedPlan.toString
    val planBroadcasts = plan.contains("BroadcastExchange")
    def timed(name: String): String = Measure.count(s, dir, name) match {
      case (sec, true) => (math.rint(sec * 100) / 100.0).toString
      case (_, false) => "null"
    }
    val qs = Seq("graph_label_prop", "graph_kcore", "graph_bfs_hops",
      "graph_components", "graph_modularity")
      .map(n => s""""$n":${timed(n)}""").mkString(",")
    s"""{"probe":"gates","dir":"$dir","n_nodes":$nNodes,""" +
      s""""n_all_pairs":$nAll,"n_weighted_edges":$nW,""" +
      s""""graphBroadcastMaxNodes":$nodeGate,""" +
      s""""componentsBroadcastMaxEdges":$edgeGate,""" +
      s""""node_gate_broadcast":$nodeBcast,""" +
      s""""lpa_round_plan_broadcasts":$planBroadcasts,""" +
      s""""timings_sec":{$qs}}"""
  }
}
