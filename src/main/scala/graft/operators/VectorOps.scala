package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.{ArtifactCache, Pinned}
import graft.functions.CosineSim.cosine_sim

/** §2.I similarity search over the `embeddings` table (BASELINE.json north
  * star). Three tiers:
  *
  *  - brute force (`vec_cosine_topk`, `vec_knn_join`, `dedup_embed_cosine`)
  *    — exact, oracled; the probe side is broadcast so the big side is
  *    never shuffled: a single scan + local top-k at any scale;
  *  - `expr_custom` — the §2.J registration of that same CosineSim path
  *    at k=20 (query distinct from vec_cosine_topk's k=10);
  *  - bucketed ANN (`vec_lsh_ann`, `vec_ivf_ann`) — the scale path:
  *    candidates are restricted to matching buckets (random-hyperplane
  *    signs) / nearest centroid cells (label-seeded IVF), so the pairwise
  *    work drops from N·M to N·M/buckets;
  *  - compressed ANN (`vec_pq_ann`) — product quantization: vectors
  *    encode to M codebook ids (8 bytes vs 256 of floats — the index that
  *    fits billion-vector corpora in RAM), probes score by codeword
  *    lookup (ADC) and only a shortlist pays exact re-ranking.
  *
  * All three ANN tiers use deterministic constructions (integer-formula
  * planes, medoid seeds, first-K codebooks) precisely so the WHOLE
  * approximate path carries a DuckDB oracle, not just the exact tier.
  *
  * Every query computes cosine through the codegen'd CosineSim expression,
  * which casts each float to double BEFORE multiplying and folds left
  * sequentially — bit-identical to the DuckDB oracle arithmetic (and to
  * the HOF formulation the unit spec cross-checks against).
  */
object VectorOps extends graft.Bank {

  /** The resident vector store: the embeddings table persisted ONCE per
    * (JVM, dir) and shared by every ANN tier. Each query here probes the
    * corpus several ways (index build, candidate scan, probe set, exact
    * rerank) — un-pinned, each reference re-read the parquet (4-6 scans
    * per query in the r9 lint). A real vector engine holds exactly this
    * artifact in memory; at 100 TB the compressed tiers (PQ codes) play
    * that role and this full-precision pin backs the rerank pass.
    * Released by ArtifactCache.evictAllCaches() on teardown. */
  private def embStore(s: SparkSession, dir: String): DataFrame =
    persistSharedPerDir("vec_embeddings", dir, t(s, dir, "embeddings"))

  /** DuckDB cosine over two aliased list columns: sequential left-fold
    * double arithmetic, bit-matching the Spark HOF / CosineSim path. */
  private def cosSql(a: String, b: String): String =
    s"""list_aggregate(list_transform(range(1, 65), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), 'sum')
       / (sqrt(list_aggregate(list_transform($a, x -> x::DOUBLE * x::DOUBLE), 'sum'))
          * sqrt(list_aggregate(list_transform($b, x -> x::DOUBLE * x::DOUBLE), 'sum')))"""

  private val sqlCosDuck = cosSql("e.embedding", "q.qv")

  /** DuckDB cosine over the first `n` dims only (all three folds
    * range-bounded) — the Matryoshka-prefix twin of [[cosSql]]. */
  private def cosSqlPrefix(a: String, b: String, n: Int): String =
    s"""list_aggregate(list_transform(range(1, ${n + 1}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), 'sum')
       / (sqrt(list_aggregate(list_transform(range(1, ${n + 1}), i -> $a[i]::DOUBLE * $a[i]::DOUBLE), 'sum'))
          * sqrt(list_aggregate(list_transform(range(1, ${n + 1}), i -> $b[i]::DOUBLE * $b[i]::DOUBLE), 'sum')))"""

  /** DuckDB twin of [[knnGraphFrame]] — a complete SELECT (no trailing
    * ORDER BY) so vec_knn_graph can order it and vec_hubness can fold it
    * from one definition. */
  private lazy val knnGraphSql: String =
    s"""WITH $lshBucketsSql,
         init0 AS (
           SELECT l.vec_id AS v, r.vec_id AS n,
                  round(${cosSql("l.embedding", "r.embedding")}, 6) AS sim
           FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id),
         init AS (
           SELECT v, n FROM (
             SELECT v, n, row_number() OVER (PARTITION BY v ORDER BY sim DESC, n) AS rk
             FROM init0) WHERE rk <= 4),
         cand AS (
           SELECT DISTINCT v, n FROM (
             SELECT v, n FROM init
             UNION ALL SELECT a.v, c.n FROM init a JOIN init c ON a.n = c.v
             UNION ALL SELECT n AS v, v AS n FROM init)
           WHERE v <> n),
         scored AS (
           SELECT c.v, c.n,
                  round(${cosSql("e1.embedding", "e2.embedding")}, 6) AS sim
           FROM cand c JOIN embeddings e1 ON c.v = e1.vec_id
                       JOIN embeddings e2 ON c.n = e2.vec_id)
         SELECT v AS vec_id, CAST(rk AS INTEGER) AS rk, n AS nbr_id, sim FROM (
           SELECT v, n, sim, row_number() OVER (PARTITION BY v ORDER BY sim DESC, n) AS rk
           FROM scored) WHERE rk <= 4"""

  /** Target mean vectors-per-bucket for the shared random-hyperplane LSH
    * (knn graph, range pairs, lsh_ann, the standing index). 8 reproduces
    * the historical 8-plane buckets at the oracle scales (≤2k vectors)
    * and SURVEY §6.5b's prescribed 12 planes at sf~1's 20k. The bucketing
    * is part of the published candidate sets, so the Spark side and CTE
    * `np` of every LSH oracle read this one value. */
  private[graft] val LshTargetOccupancy = 8L

  /** Scale-derived hyperplane count for the shared LSH: the smallest
    * p ∈ [8, 30] with targetOcc·2^p ≥ n, so mean bucket occupancy stays
    * ≤ targetOcc as the corpus grows and the within-bucket candidate
    * join stays ~linear in n (VERDICT r13: a FIXED 8 planes → 256
    * buckets made bucket occupancy — and hence the quadratic-in-bucket
    * pair work — grow linearly with data: 0.3 s at sf0.1 → 8.4 s at
    * 10×). Pure integer rule replayed verbatim by the DuckDB oracles
    * from count(*) (CTE `np` in [[lshBucketsSql]]), so every
    * plane-derived query stays hash-compared at ANY scale: 8 planes up
    * to 2k vectors (all oracle fixtures), 12 at sf~1's 20k (SURVEY
    * §6.5b's prescribed occupancy restore), 27 at a billion. */
  private[graft] def lshPlaneCount(n: Long,
      targetOcc: Long = LshTargetOccupancy): Int =
    (8 to 30).find(p => (targetOcc << p) >= n).getOrElse(30)

  /** DuckDB regeneration of the ADAPTIVE bucketing: CTE `np` replays
    * [[lshPlaneCount]]'s integer rule from count(*) (so the oracle
    * derives the same plane count at ANY corpus scale), and CTE `b`
    * is (vec_id, embedding, bucket), shared by the lsh_ann, range/cluster
    * pair, and k-NN-graph oracles. */
  private val lshBucketsSql: String =
    s"""np AS (
       SELECT coalesce(min(p), 30) AS planes FROM range(8, 31) tp(p)
       WHERE ($LshTargetOccupancy::BIGINT << p)
             >= (SELECT count(*) FROM embeddings)),
     b AS (
       SELECT vec_id, embedding,
         CAST(sum(CASE WHEN d > 0 THEN (1::BIGINT << j) ELSE 0 END) AS INTEGER) AS bucket
       FROM (
         SELECT e0.vec_id, e0.embedding, p.j,
           list_aggregate(list_transform(range(1, 65), i ->
             e0.embedding[i]::DOUBLE *
             ((((p.j * 1315423911 + (i - 1) * 2654435761) % 2001 + 2001) % 2001 - 1000) / 1000.0)),
             'sum') AS d
         FROM embeddings e0
         CROSS JOIN (SELECT unnest(range(0, (SELECT planes FROM np))) AS j) p)
       GROUP BY vec_id, embedding)"""

  /** DuckDB twin of [[lshRangePairs]]: CTEs `b` (bucketed embeddings) and
    * `rpairs` (d1 < d2, sim ≥ 0.3 within a shared bucket), spliced into
    * both the range-search and semantic-cluster oracles. */
  private val lshRangePairsSql: String =
    s"""$lshBucketsSql,
     rpairs AS (
       SELECT v1 AS d1, v2 AS d2, sim FROM (
         SELECT l.vec_id AS v1, r.vec_id AS v2,
                round(${cosSql("l.embedding", "r.embedding")}, 6) AS sim
         FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
       WHERE sim >= 0.3)"""

  /** The deterministic random-hyperplane matrix shared by every
    * LSH-seeded query (`vec_lsh_ann`, range/cluster pairs,
    * `vec_knn_graph`) — integer formula, so the DuckDB oracles
    * regenerate identical planes for any requested count. */
  private[graft] def lshPlanes(nPlanes: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map { j =>
      (0 until 64).map { i =>
        (((j * 1315423911L + i * 2654435761L) % 2001 + 2001) % 2001 - 1000) / 1000.0
      }
    }

  // corpus size per (JVM, dir), memoized — ONE count over the persisted
  // embStore is the scale signal every adaptive-plane query derives from
  private val nEmbCache = new graft.ArtifactCache[java.lang.Long]("emb count",
    _ => (), graft.ArtifactCache.PerDir((s, d) => { embCount(s, d); () }))
  private[graft] def embCount(s: SparkSession, dir: String): Long =
    nEmbCache.getOrElseUpdate(dir, embStore(s, dir).count())

  // DISTINCT-embedding corpus size per (JVM, dir), memoized like embCount
  // — the vector twin of Tables.distinctDocCount: the exact-dup-collapse
  // GATE compares it against embCount, so a duplicate-free corpus (every
  // fixture/bench scale) skips the collapse machinery outright and a
  // copied crawl engages it (optimization r16: the collapse added a
  // window-by-embedding + persist + two re-expansion joins to every
  // lshRangePairs consumer — ~3 s/query at sf0.1 — that bought nothing
  // where no duplicates exist; the gate is the broadcast-gate idiom, a
  // capacity branch that never changes results)
  private val nDistinctEmbCache = new graft.ArtifactCache[java.lang.Long](
    "distinct emb count",
    _ => (), graft.ArtifactCache.PerDir((s, d) => { distinctEmbCount(s, d); () }))
  private[graft] def distinctEmbCount(s: SparkSession, dir: String): Long =
    nDistinctEmbCache.getOrElseUpdate(dir,
      embStore(s, dir).select(col("embedding")).distinct().count())

  /** True when the collapse machinery must run: the corpus carries exact-
    * duplicate embeddings, or [[graft.Knobs.forceCollapse]]
    * (the test/parity override — production never needs it; the branch
    * is result-identical by construction, see [[lshRepRangePairs]]). */
  private[graft] def embCollapseGate(s: SparkSession, dir: String): Boolean =
    graft.Knobs.forceCollapse(s) ||
      distinctEmbCount(s, dir) < embCount(s, dir)

  /** The corpus-size-adaptive plane matrix for `dir`. */
  private[graft] def lshPlanesFor(s: SparkSession, dir: String): Seq[Seq[Double]] =
    lshPlanes(lshPlaneCount(embCount(s, dir)))

  /** All embedding pairs with cosine ≥ 0.3 whose LSH signatures share a
    * bucket (columns v1 < v2, sim) — the candidate generator for both
    * `vec_range_search` and `dedup_semantic_cluster`. Same deterministic
    * plane formula as `vec_lsh_ann`, so the whole path is oracle-able. */
  private[graft] def lshRangePairs(s: SparkSession, dir: String): DataFrame = {
    // dup-free corpora (gate OFF): the rep graph IS the doc graph —
    // members is the identity map, within is empty — so the direct
    // bucket join publishes the identical pair set without the collapse
    // machinery's window/persist/re-expansion (optimization r16; the
    // equivalence is pinned by OperatorSpec's forceCollapse parity test)
    if (!embCollapseGate(s, dir)) {
      val b = embStore(s, dir).withColumn("bucket",
        graft.functions.LshBucket.lsh_bucket(col("embedding"), lshPlanesFor(s, dir)))
      val lhs = b.select(col("bucket"), col("vec_id").as("v1"), col("embedding").as("e1"))
      val rhs = b.select(col("bucket"), col("vec_id").as("v2"), col("embedding").as("e2"))
      return lhs.join(rhs, Seq("bucket"))
        .filter(col("v1") < col("v2"))
        .withColumn("sim", round(cosine_sim(col("e1"), col("e2")), 6))
        .filter(col("sim") >= 0.3)
        .select(col("v1"), col("v2"), col("sim"))
    }
    val (repPairs, members, selfSim) = lshRepRangePairs(s, dir)
    // relational re-expansion to the doc grain: cross-cluster member
    // pairs inherit their reps' sim (identical floats → identical
    // cosine), within-cluster pairs the cluster's own self-sim
    val cross = repPairs
      .join(members.select(col("rep").as("r1"), col("vec_id").as("ma")), "r1")
      .join(members.select(col("rep").as("r2"), col("vec_id").as("mb")), "r2")
      .select(least(col("ma"), col("mb")).as("v1"),
        greatest(col("ma"), col("mb")).as("v2"), col("sim"))
    val within = members.as("x").join(members.as("y"),
        col("x.rep") === col("y.rep") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"), col("x.rep").as("rep"))
      .join(selfSim, "rep")
      .select(col("v1"), col("v2"), col("sim"))
    cross.unionAll(within)
  }

  /** EXACT-DUPLICATE COLLAPSE for the LSH range-pair generator (VERDICT
    * r15 item 1 — the text_dedup_near/mm_phash discipline applied to the
    * vector side): verbatim-duplicate embeddings hash to the same bucket
    * and pair with every member of any near cluster, so bucketing them
    * individually makes the bucket self-join quadratic in copy-factor.
    * One representative (min vec_id) per DISTINCT embedding enters the
    * bucket join; membership and the cluster self-sim (computed once per
    * cluster through the SAME rounded-cosine formula — cos(v,v) is not
    * assumed 1.0; a zero vector yields NaN, which Spark's SQL ordering
    * ranks ABOVE any double, so NaN ≥ 0.3 passes and zero-cluster pairs
    * publish with NaN sim exactly as the per-doc join published them)
    * re-expand relationally. Duplicate-free corpora (every
    * oracle scale) take the degenerate path — output bit-identical, the
    * DuckDB twin [[lshRangePairsSql]] is unchanged. */
  private def lshRepRangePairs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val emb = embStore(s, dir)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("embedding"))
    val members = persistShared("vec_lsh_members", emb
      .select(col("vec_id"), col("embedding"))
      .withColumn("rep", min(col("vec_id")).over(w))
      .select(col("vec_id"), col("rep"),
        when(col("vec_id") === col("rep"), col("embedding")).as("embedding")))
    val reps = members.filter(col("vec_id") === col("rep"))
      .select(col("rep"), col("embedding"))
    val b = reps.withColumn("bucket",
      graft.functions.LshBucket.lsh_bucket(col("embedding"), lshPlanesFor(s, dir)))
    val lhs = b.select(col("bucket"), col("rep").as("r1"), col("embedding").as("e1"))
    val rhs = b.select(col("bucket"), col("rep").as("r2"), col("embedding").as("e2"))
    val repPairs = lhs.join(rhs, Seq("bucket"))
      .filter(col("r1") < col("r2"))
      .withColumn("sim", round(cosine_sim(col("e1"), col("e2")), 6))
      .filter(col("sim") >= 0.3)
      .select(col("r1"), col("r2"), col("sim"))
    val selfSim = reps
      .withColumn("sim", round(cosine_sim(col("embedding"), col("embedding")), 6))
      .filter(col("sim") >= 0.3)
      .select(col("rep"), col("sim"))
    (repPairs, members.select(col("vec_id"), col("rep")), selfSim)
  }

  /** dedup_semantic_cluster body — factored out so the spec can compare
    * the gate's two branches directly. Gate OFF (duplicate-free corpus):
    * the r15 direct formulation — HashMin over the doc-grain LSH pairs,
    * node domain = edge-touched endpoints. Gate ON: the fixpoint runs on
    * the REP graph (exact-dup collapse, VERDICT r15 item 1) — members of
    * an exact cluster inherit their rep's component label relationally;
    * identical output, because reps are cluster minima, so
    * min-over-expanded-component equals min-over-rep-component; edge
    * volume stays linear in distinct content instead of quadratic in
    * copy-factor. Labels stay a distributed frame end to end — no
    * collect. */
  private[graft] def semanticClusterFrame(s: SparkSession, dir: String): DataFrame = {
    if (!embCollapseGate(s, dir)) {
      val pairs = lshRangePairs(s, dir)
        .select(col("v1").as("d1"), col("v2").as("d2"))
      return Components.hashMinLabels(s, pairs)
        .select(col("doc_id").as("vec_id"), col("comp"))
        .withColumn("is_representative", col("vec_id") === col("comp"))
        .orderBy(col("vec_id"))
    }
    val (repPairs, members, selfSim) = lshRepRangePairs(s, dir)
    val pairs = repPairs.select(col("r1").as("d1"), col("r2").as("d2"))
    // node domain = edge-touched, exactly as the doc-grain graph saw
    // it: reps on a rep-graph edge, plus reps of multi-member clusters
    // whose self-sim survives the ≥ 0.3 cut (NaN self-sims pass it —
    // Spark ranks NaN above any double — so zero-vector clusters stay
    // edge-touched, as their per-doc within pairs made them before)
    val multi = members.groupBy(col("rep")).agg(count(lit(1)).as("nm"))
      .filter(col("nm") >= 2).join(selfSim, "rep").select(col("rep").as("id"))
    val touched = pairs.select(col("d1").as("id"))
      .union(pairs.select(col("d2").as("id"))).union(multi).distinct()
    val repLabels = Components.hashMinLabels(s, pairs, nodes = Some(touched))
    members
      .join(repLabels.select(col("doc_id").as("rep"), col("comp")), "rep")
      .select(col("vec_id"), col("comp"))
      .withColumn("is_representative", col("vec_id") === col("comp"))
      .orderBy(col("vec_id"))
  }

  /** The approximate k-NN graph (vec_id, rk, nbr_id, sim), K=4: LSH-seeded
    * init top-K, one NN-Descent re-rank over N ∪ N∘N ∪ Nᵀ — the shared
    * construction behind vec_knn_graph (which just orders it) and
    * vec_hubness (which folds its in-degrees). Pinned ONCE per (JVM, dir)
    * (ADVICE r13: vec_hubness re-ran the whole construction — 26.9 s
    * duplicated at sf~1): both consumers read the one materialized graph. */
  private val knnGraphCache =
    ArtifactCache.frames[Pinned]("knn graph")(knnGraphFrame(_, _))

  private def knnGraphFrame(s: SparkSession, dir: String): DataFrame =
    knnGraphCache.getOrElseUpdate(dir, Pinned(buildKnnGraph(s, dir))).on(s)

  /** Standing LSH bucket index for the incremental-ingest tier
    * (`vec_index_incremental`; VERDICT r14 item 6 — dedup_incremental's
    * vector twin): the RESIDENT corpus (every vector outside the ingest
    * slice `vec_id % 16 = 7`), bucketed with planes derived from the
    * RESIDENT count. An index's plane count is its persisted layout (the
    * `_PK_BUCKETS` discipline): arrivals PROBE it with the index's own
    * planes — they never re-derive the plane count or rebuild the index.
    * Pinned per dir like the knn graph, so every ingest batch pays
    * batch-sized bucket hashing plus bucket-local joins. At 100 TB this
    * is the standing ANN index a continuously-growing embedding store
    * maintains — new shards fold in by bucket append, not rebuild. */
  private val standingIdxCache =
    ArtifactCache.frames[(Int, Pinned)]("standing lsh index")(standingIndex(_, _))

  private def standingIndex(s: SparkSession, dir: String): (Int, DataFrame) = {
    val (planes, idx) = standingIdxCache.getOrElseUpdate(dir, {
      val standing = embStore(s, dir).filter(col("vec_id") % 16 =!= 7)
      val p = lshPlaneCount(standing.count())
      (p, Pinned(standing.withColumn("bucket",
        graft.functions.LshBucket.lsh_bucket(col("embedding"), lshPlanes(p)))))
    })
    (planes, idx.on(s))
  }

  private[graft] def buildKnnGraph(s: SparkSession, dir: String): DataFrame = {
    val K = 4
    val emb = embStore(s, dir).select(col("vec_id"), col("embedding"))
    val b = emb.withColumn("bucket",
      graft.functions.LshBucket.lsh_bucket(col("embedding"), lshPlanesFor(s, dir)))
    val w = Window.partitionBy(col("v")).orderBy(col("sim").desc, col("n"))
    val initPairs = b.as("l").join(b.as("r"), col("l.bucket") === col("r.bucket"))
      .filter(col("l.vec_id") =!= col("r.vec_id"))
      .select(col("l.vec_id").as("v"), col("r.vec_id").as("n"),
        round(cosine_sim(col("l.embedding"), col("r.embedding")), 6).as("sim"))
    // init graph is consumed three times by the refinement round —
    // materialize once, lineage truncated (pagerank's pinning pattern)
    val init = initPairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K).select(col("v"), col("n"))
      .transform(RoundPin.pin)
    val nofn = init.as("a").join(init.as("c"), col("a.n") === col("c.v"))
      .select(col("a.v").as("v"), col("c.n").as("n"))
    val rev = init.select(col("n").as("v"), col("v").as("n"))
    val cand = init.unionAll(nofn).unionAll(rev)
      .filter(col("v") =!= col("n")).distinct()
    val scored = cand
      .join(emb.select(col("vec_id").as("v"), col("embedding").as("ev")), "v")
      .join(emb.select(col("vec_id").as("n"), col("embedding").as("en")), "n")
      .select(col("v"), col("n"),
        round(cosine_sim(col("ev"), col("en")), 6).as("sim"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= K)
      .select(col("v").as("vec_id"), col("rk"), col("n").as("nbr_id"), col("sim"))
  }

  // ---- product-quantization building blocks (vec_pq_ann, vec_ivfpq_ann)
  private val PQ_SUB = 8
  private val PQ_K = 16
  import graft.functions.SubspaceL2.subspace_l2

  /** Deterministic TRAINED codebook: seeded by the first K vectors'
    * subvectors, refined by [[LLOYD_ITERS]] fixed Lloyd (k-means)
    * iterations. Each round: per-(vector, subspace) nearest-codeword
    * assignment as a min_by HASH AGG over the fused SubspaceL2 distances
    * (broadcast codebook — the big side never shuffles), then the new
    * per-(codeword, dimension) centroid as a DECIMAL-exact mean (parallel
    * partial sums cannot perturb it), empty cells keeping their previous
    * coordinates. Bit-stable at any parallelism, and the SAME two rounds
    * unroll in the DuckDB oracle ([[lloydCbSql]]) — so the trained path
    * stays fully hash-compared, like graph_pagerank's replayed rounds. */
  private val LLOYD_ITERS = 2

  // The trained codebook is deterministic per source dir and K-row-sized
  // BY CONSTRUCTION (K=16 codewords — a codebook is driver-sized at any
  // corpus scale; collecting it is the standard broadcast-codebook shape,
  // unlike collecting data-sized frames). Memoized so vec_pq_ann and
  // vec_ivfpq_ann train once per (JVM, dir), not once per query.
  // ArtifactCache: single-flight build (a concurrent duplicate train here
  // would leak its per-round persisted frames) + eviction; the collected
  // rows hold no executor state, so release is a no-op beyond removal.
  private val cbCache = new graft.ArtifactCache[
    (Seq[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)](
    "pq codebook", _ => (),
    graft.ArtifactCache.PerDir((s, d) => { pqCodebook(embStore(s, d), d); () }))

  private def pqCodebook(emb: DataFrame, dir: String): DataFrame = {
    val (rows, schema) = cbCache.getOrElseUpdate(dir, {
      val (trained, pinned) = trainCodebook(emb)
      val out = (trained.collect().toSeq, trained.schema)
      // the collected rows ARE the codebook from here on — the per-round
      // persisted frames are dead weight and must not sit in the
      // CacheManager for the JVM lifetime
      pinned.foreach(_.unpersist(blocking = false))
      out
    })
    import scala.jdk.CollectionConverters._
    emb.sparkSession.createDataFrame(rows.asJava, schema)
  }

  /** Returns the trained codebook frame plus every per-round frame it
    * persisted, so the caller can unpersist them once the codebook is
    * materialized. */
  private def trainCodebook(emb: DataFrame): (DataFrame, Seq[DataFrame]) = {
    // train on a DETERMINISTIC ~25% sample (multiplicative-hash filter,
    // the sample_split trick): real PQ training always runs on a sample —
    // at a billion vectors the codebook converges on a sliver of the
    // corpus and only the ENCODE pass touches everything. The filter is
    // pure BIGINT arithmetic, so the DuckDB oracle replays the same
    // sample bit for bit.
    val embD = emb.filter(pmod((col("vec_id") % lit(2147483648L)) * lit(2654435761L), lit(4)) === 0)
      .select(col("vec_id"), col("embedding"))
    val pinned = scala.collection.mutable.Buffer.empty[DataFrame]
    var cb = emb.filter(col("vec_id") < PQ_K)
      .select(col("vec_id").cast("int").as("cw"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cv"))
    for (_ <- 1 to LLOYD_ITERS) {
      val assign = embD.crossJoin(broadcast(cb))
        .select(col("vec_id"), col("embedding"), col("cw"),
          posexplode(subspace_l2(col("embedding"), col("cv"), PQ_SUB)).as(Seq("m", "d")))
        .groupBy(col("vec_id"), col("m"))
        .agg(min_by(col("cw"), struct(col("d"), col("cw"))).as("cw"),
          first(col("embedding")).as("embedding")) // functionally dependent on vec_id
      val means = assign
        .select(col("cw"), col("m"),
          posexplode(slice(col("embedding"),
            col("m") * PQ_SUB + 1, lit(PQ_SUB))).as(Seq("j", "x")))
        .groupBy(col("cw"), (col("m") * PQ_SUB + col("j") + 1).as("idx"))
        .agg((sum(dec(col("x").cast("double"))).cast("double") /
          count(lit(1))).as("c"))
      val oldc = cb.select(col("cw"), posexplode(col("cv")).as(Seq("p", "oldx")))
        .select(col("cw"), (col("p") + 1).as("idx"), col("oldx"))
      // each round's K-row frame is persisted: the next round (and the
      // final consumers — encode pass + probe ADC table) reference it
      // more than once, and every un-cached reference would re-run the
      // full corpus-sized training lineage behind it
      cb = oldc.join(means, Seq("cw", "idx"), "left")
        .select(col("cw"), col("idx"), coalesce(col("c"), col("oldx")).as("x"))
        .groupBy(col("cw"))
        .agg(transform(array_sort(collect_list(struct(col("idx"), col("x")))),
          p => p.getField("x")).as("cv"))
        .persist()
      pinned += cb
    }
    (cb, pinned.toSeq)
  }

  /** PQ encode: (vec_id, label, m, cw) — the argmin codeword per
    * (vector, subspace). One fused codegen pass (functions/SubspaceL2)
    * computes all per-subspace distances for a (vector, codeword) pair;
    * N×K rows total, linear in N with a broadcast codebook. */
  private def pqCodes(emb: DataFrame, codebook: DataFrame): DataFrame =
    // argmin per (vector, subspace) as a min_by HASH AGG, not a sort
    // window: N×M groups of K rows each would otherwise pay a full
    // shuffle+sort of N×K×M rows into millions of 16-row partitions
    // (the text_langid lesson — min_by was 1.7× faster there and the gap
    // widens with N). Tie-break (d, cw) matches the old window orderBy.
    emb.crossJoin(broadcast(codebook))
      .select(col("vec_id"), col("label"), col("cw"),
        posexplode(subspace_l2(col("embedding"), col("cv"), PQ_SUB)).as(Seq("m", "d")))
      .groupBy(col("vec_id"), col("label"), col("m"))
      .agg(min_by(col("cw"), struct(col("d"), col("cw"))).as("cw"))
      .select(col("vec_id"), col("label"), col("m"), col("cw"))

  /** DuckDB replay of [[pqCodebook]]'s fixed Lloyd rounds — the same
    * seed (first-K subvectors), the same deterministic ~25% training
    * sample, per-subspace argmin assignment, and DECIMAL-exact
    * per-dimension means, unrolled round by round; the final CTE is
    * named `cb` so it drops into the enc/pd CTEs unchanged. */
  private val lloydCbSql: String = {
    def round(r: Int): String = {
      val prev = s"cb${r - 1}"
      s"""asg$r AS (
           SELECT vec_id, embedding, m, cw FROM (
             SELECT e.vec_id, e.embedding, p.m, c.cw,
               row_number() OVER (PARTITION BY e.vec_id, p.m ORDER BY
                 list_aggregate(list_transform(range(1, 9), i ->
                   (e.embedding[p.m * 8 + i]::DOUBLE - c.cv[p.m * 8 + i]) *
                   (e.embedding[p.m * 8 + i]::DOUBLE - c.cv[p.m * 8 + i])), 'sum'), c.cw) AS crn
             FROM (SELECT * FROM embeddings WHERE ((vec_id % 2147483648) * 2654435761) % 4 = 0) e
             CROSS JOIN range(0, 8) p(m) CROSS JOIN $prev c)
           WHERE crn = 1),
         mean$r AS (
           SELECT a.cw, i.idx,
             CAST(sum(CAST(a.embedding[i.idx]::DOUBLE AS DECIMAL(18,6))) AS DOUBLE) / count(1) AS c
           FROM asg$r a CROSS JOIN range(1, 65) i(idx)
           WHERE ((i.idx - 1) // 8) = a.m
           GROUP BY a.cw, i.idx),
         cb$r AS (
           SELECT o.cw, list(coalesce(m.c, o.oldx) ORDER BY o.idx) AS cv
           FROM (SELECT cw, i.idx, cv[i.idx] AS oldx
                 FROM $prev CROSS JOIN range(1, 65) i(idx)) o
           LEFT JOIN mean$r m ON m.cw = o.cw AND m.idx = o.idx
           GROUP BY o.cw)"""
    }
    s"""cb0 AS (
         SELECT CAST(vec_id AS INTEGER) AS cw,
                list_transform(embedding, x -> x::DOUBLE) AS cv
         FROM embeddings WHERE vec_id < $PQ_K),
       ${(1 to LLOYD_ITERS).map(round).mkString(", ")},
       cb AS (SELECT cw, cv FROM cb$LLOYD_ITERS)"""
  }

  /** Probe-side ADC lookup table: (probe_id, pm, pcw, dd) part-distances,
    * DECIMAL-exact so the cross-subspace sum is order-independent. */
  private def pqAdcTable(emb: DataFrame, codebook: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("probe_id"), col("embedding"))
      .crossJoin(broadcast(codebook))
      .select(col("probe_id"), col("cw"),
        posexplode(subspace_l2(col("embedding"), col("cv"), PQ_SUB)).as(Seq("m", "d")))
      .select(col("probe_id"), col("m").as("pm"), col("cw").as("pcw"), dec(col("d")).as("dd"))

  /** Exact cosine re-rank of a (probe_id, vec_id) shortlist → top-3. */
  private def rerank(emb: DataFrame, short: DataFrame): DataFrame = {
    val probeVecs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("p2"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
    short.join(emb, Seq("vec_id"))
      .join(broadcast(probeVecs), col("probe_id") === col("p2"))
      .withColumn("sim", round(cosine_sim(col("embedding"), col("qv")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("sim"), col("rn"))
      .orderBy(col("probe_id"), col("rn"))
  }

  val queries: Map[String, QFn] = Map(
    // Binary quantization — the final compression tier under SQ8/PQ/IVFPQ:
    // each 64-dim float vector collapses to ONE 64-bit word (sign bits,
    // MSB-first fold; 256 B → 8 B, a 32× cut), and candidate generation is
    // bit_count(xor) — the cheapest distance in the codegen arsenal. Ranked
    // Hamming prefilter (4×k candidates under a (ham, id) total order) then
    // EXACT cosine rerank of the survivors — the standard two-stage serving
    // pattern. The oracle never packs: it computes Hamming straight off the
    // sign predicate per dimension, so the packed representation is proven
    // equivalent to its definition rather than replayed.
    "vec_binary_hamming_topk" -> ((s, dir) => {
      val emb = embStore(s, dir)
      // shiftleft|or, not acc*2+bit: the 64th shift crosses the sign bit,
      // which is defined wrapping for bitwise ops but an ANSI-mode
      // arithmetic overflow for multiplication
      val packed = emb.withColumn("w", expr(
        "aggregate(sequence(0, 63), 0L, (acc, i) -> shiftleft(acc, 1) | IF(embedding[i] > 0, 1L, 0L))"))
      val q = packed.filter(col("vec_id") === 0)
        .select(col("w").as("qw"), col("embedding").as("qv"))
      val cand = packed.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("ham", expr("bit_count(w ^ qw)"))
        .orderBy(col("ham"), col("vec_id")).limit(40)
      cand.withColumn("sim", round(cosine_sim(col("embedding"), col("qv")), 6))
        .select(col("vec_id"), col("ham"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
    }),

    "vec_cosine_topk" -> ((s, dir) => {
      val emb = embStore(s, dir)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      emb.crossJoin(broadcast(q))
        .withColumn("sim", round(cosine_sim(col("embedding"), col("qv")), 6))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    }),

    // Filtered vector search — THE serving-path question every vector
    // store answers badly somewhere (metadata predicate × similarity):
    // pre-filter (exact top-10 over the label-1 subset — correct by
    // definition) vs post-filter (top-30 over everything, then keep
    // label-1 — the cheap plan that silently under-fills when the
    // predicate is selective). Emits the pre-filter truth with a flag
    // per row: did the 3× over-fetch post-filter surface it? The
    // scored frame is computed ONCE (persisted) and both strategies
    // lower to TakeOrdered; at scale the pre-filter tier rides the
    // same predicate pushdown the scan already does.
    "vec_filtered_search" -> ((s, dir) => {
      val emb = embStore(s, dir)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val scored = persistShared("vfs_scored",
        emb.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("label"),
            round(cosine_sim(col("embedding"), col("qv")), 6).as("sim")))
      val pre = scored.filter(col("label") === 1)
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
      val post = scored.orderBy(col("sim").desc, col("vec_id")).limit(30)
        .filter(col("label") === 1)
        .select(col("vec_id").as("pid"))
      pre.join(post, col("vec_id") === col("pid"), "left")
        .select(col("vec_id"), col("sim"),
          when(col("pid").isNotNull, 1).otherwise(0).as("in_postfilter"))
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // Matryoshka-truncation similarity (MRL): rank candidates by cosine
    // over the first 16 dims only — 4× less arithmetic and, at scale,
    // 4× less index I/O, because the PREFIX is what ships to the serving
    // index while the full vector stays in cold storage — and report the
    // full-precision cosine alongside, so the cheap tier's rank
    // distortion is directly visible in the output. Both cosines run
    // through the codegen'd CosineSim over sliced/full arrays; the slice
    // happens in the scan projection.
    "vec_matryoshka_topk" -> ((s, dir) => {
      val emb = embStore(s, dir)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("sim16",
          round(cosine_sim(slice(col("embedding"), 1, 16), slice(col("qv"), 1, 16)), 6))
        .withColumn("sim_full", round(cosine_sim(col("embedding"), col("qv")), 6))
        .orderBy(col("sim16").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("sim16"), col("sim_full"))
    }),

    // int8 SCALAR quantization — the other industry-standard compression
    // tier next to PQ/Matryoshka (4× smaller vectors, trivially SIMD at
    // serving): per-vector max-abs scale, q_i = round(x_i·127/scale)
    // clamp-free (max-abs guarantees |q| ≤ 127), rank by cosine over the
    // DEQUANTIZED vectors with full precision reported alongside, so the
    // quantization noise is directly visible in the output ordering. The
    // dequantized cosine runs the same sequential-fold HOF shape the
    // oracle computes, and round() is away-from-zero in both engines, so
    // the whole quantize→dequantize→rank path is hash-oracled.
    "vec_sq_topk" -> ((s, dir) => {
      val emb = embStore(s, dir)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val hofCos =
        """aggregate(zip_with(dqe, dqq, (x, y) -> x * y), cast(0 as double), (acc, v) -> acc + v)
           / (sqrt(aggregate(transform(dqe, x -> x * x), cast(0 as double), (acc, v) -> acc + v))
              * sqrt(aggregate(transform(dqq, x -> x * x), cast(0 as double), (acc, v) -> acc + v)))"""
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("s_e", expr("array_max(transform(embedding, x -> abs(cast(x as double))))"))
        .withColumn("s_q", expr("array_max(transform(qe, x -> abs(cast(x as double))))"))
        .withColumn("dqe", expr(
          "transform(embedding, x -> cast(round(cast(x as double) * 127.0 / s_e, 0) as int) * s_e / 127.0)"))
        .withColumn("dqq", expr(
          "transform(qe, x -> cast(round(cast(x as double) * 127.0 / s_q, 0) as int) * s_q / 127.0)"))
        .withColumn("sim_sq", round(expr(hofCos), 6))
        .withColumn("sim_full", round(cosine_sim(col("embedding"), col("qe")), 6))
        .orderBy(col("sim_sq").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("sim_sq"), col("sim_full"))
    }),

    // Per-dimension int8 min-max quantization audit — the index-build
    // diagnostic beside vec_sq_topk (that SEARCHES with per-vector SQ;
    // this reports how much precision per-DIMENSION uint8 quantization
    // costs, the go/no-go check before shipping a compressed index):
    // dim-grain min/max codebook, reconstruct, per-element |error|
    // gridded to integer micro-units (order-free sums). The exploded
    // frame is persisted (feeds the codebook agg AND the error join);
    // the dim-grain codebook broadcasts. Flat-constant dims guard via
    // nullif → zero error, both engines.
    "vec_quantize_error" -> ((s, dir) => {
      val ex = persistShared("vq_ex", embStore(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "fv")))
        .select(col("vec_id"), col("pos"), col("fv").cast("double").as("v")))
      val stats = ex.groupBy(col("pos"))
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      ex.join(broadcast(stats), Seq("pos"))
        .withColumn("q",
          expr("CAST(round((v - mn) * 255.0 / nullif(mx - mn, 0.0), 0) AS INT)"))
        .withColumn("recon",
          col("mn") + col("q") * (col("mx") - col("mn")) / 255.0)
        .withColumn("err6", coalesce(
          expr("CAST(round(abs(v - recon) * 1000000, 0) AS BIGINT)"), lit(0L)))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"),
          round(min(col("mn")), 6).as("lo"),
          round(max(col("mx")), 6).as("hi"),
          round(sum(col("err6")).cast("double") /
            (count(lit(1)) * lit(1000000.0)), 6).as("mean_abs_err"),
          round(max(col("err6")).cast("double") / lit(1000000.0), 6)
            .as("max_abs_err"))
        .orderBy(col("pos"))
    }),

    // Maximum-inner-product top-k — the retrieval scoring recommenders
    // and RAG rankers run when vectors are NOT length-normalized (the
    // norm carries signal — popularity-weighted item embeddings — that
    // cosine deliberately throws away). Exact tier: ≤4 broadcast probes
    // against the resident vector store, one corpus scan, per-probe
    // K-bounded heap (the rank window lowers to WindowGroupLimit). At
    // scale MIPS reduces to cosine ANN via the norm-augmentation
    // transform (append sqrt(M² − |x|²) so inner-product order becomes
    // angular order; Bachrach et al. 2014) and rides the SAME LSH
    // machinery — this exact tier is that pipeline's rerank pass. The
    // dot product is the identical widened sequential fold as the
    // cosine oracle arithmetic, so the whole ranking hash-compares.
    "vec_mips_topk" -> ((s, dir) => {
      val emb = embStore(s, dir)
      val probes = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("probe_id"), col("embedding").as("qv"))
      val w = Window.partitionBy(col("probe_id")).orderBy(col("ip").desc, col("vec_id"))
      emb.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("ip", round(expr(
          "aggregate(zip_with(embedding, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("probe_id"), col("vec_id").as("item_id"), col("ip"), col("rn"))
        .orderBy(col("probe_id"), col("rn"))
    }),

    // Per-source embedding-centroid drift — the domain-shift monitor an
    // embedding pipeline runs per ingest source (a crawler that changed
    // its extraction, a source whose content drifted: its centroid
    // rotates away from the corpus centroid long before downstream
    // quality metrics move). Per-(source, dim) means via the
    // vec_centroid_agg fold discipline (per-group values sorted by
    // vec_id, ONE sequential double fold — deterministic without
    // gridding raw floats), then cosine(source centroid, global
    // centroid) from 12-dp-gridded per-dim products summed order-free.
    // Scale shape: one dim-explode pass (fact × 64), two bounded-grain
    // aggs (|sources|·64 and 64 rows), a broadcast 64-row join — the
    // report is |sources| rows at any corpus size. Most-drifted first.
    "vec_source_drift" -> ((s, dir) => {
      val ex = persistShared("vec_drift_ex", embStore(s, dir)
        .join(t(s, dir, "documents")
          .select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
        .select(col("source"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "fv")))
        .select(col("source"), col("pos"),
          struct(col("vec_id"), col("fv").cast("double").as("v")).as("rec")))
      def meanOf(df: DataFrame, keys: Column*): DataFrame = df
        .groupBy(keys: _*)
        .agg(sort_array(collect_list(col("rec"))).as("h"))
        .withColumn("m", aggregate(expr("slice(h, 2, size(h) - 1)"),
          col("h").getItem(0).getField("v"),
          (acc, x) => acc + x.getField("v")) / size(col("h")))
      val bySrc = meanOf(ex, col("source"), col("pos"))
        .select(col("source"), col("pos"), col("m").as("c"))
      val global = meanOf(ex, col("pos"))
        .select(col("pos"), col("m").as("g"))
      bySrc.join(broadcast(global), Seq("pos"))
        .groupBy(col("source"))
        .agg(
          sum(dec(round(col("c") * col("g"), 12), 12)).cast("double").as("dot"),
          sum(dec(round(col("c") * col("c"), 12), 12)).cast("double").as("nc"),
          sum(dec(round(col("g") * col("g"), 12), 12)).cast("double").as("ng"))
        .select(col("source"),
          round(col("dot") / (sqrt(col("nc")) * sqrt(col("ng"))), 6)
            .as("centroid_cos"))
        .orderBy(col("centroid_cos"), col("source"))
    }),

    // MMR (maximal marginal relevance) diversity re-rank — the
    // λ·relevance − (1−λ)·redundancy greedy (Carbonell & Goldstein 1998)
    // every RAG retrieval stack runs between the ANN shortlist and
    // context assembly, so near-duplicate passages don't crowd the
    // context window. The DISTRIBUTED part is the shortlist: one corpus
    // scan → top-20 by cosine (TakeOrdered lowering, probe broadcast);
    // the greedy then runs on the COLLECTED 20-row shortlist — bounded
    // by construction, the standard head-node rerank step, same
    // bounded-collect license as the PQ codebook (pqCodebook). λ = 0.7,
    // k = 5; all sims 6-dp-gridded with the engine's HALF_UP rounding
    // and (score desc, id) tie order, so the DuckDB oracle replays the
    // exact same 5 greedy steps unrolled.
    "vec_mmr_rerank" -> ((s, dir) => {
      val emb = embStore(s, dir)
      val q0 = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val cand = emb.crossJoin(broadcast(q0))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"),
          round(cosine_sim(col("embedding"), col("qv")), 6).as("rel"))
        .orderBy(col("rel").desc, col("vec_id")).limit(20)
        .collect() // bounded: exactly the 20-row shortlist
      val ids = cand.map(_.getLong(0))
      val embs = cand.map(_.getSeq[Float](1).toArray)
      val rel = cand.map(_.getDouble(2))
      def r6l(v: Double): Double =
        BigDecimal(v).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      // same widened sequential-fold arithmetic as CosineSim/cosSql, so
      // the 6-dp pair sims match the oracle's bit for bit
      def cosLocal(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        val m = math.min(a.length, b.length)
        while (i < m) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        r6l(dot / (math.sqrt(na) * math.sqrt(nb)))
      }
      val n = ids.length
      val selIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
      while (selIdx.length < math.min(5, n)) {
        val scored = (0 until n).filterNot(selIdx.contains).map { c =>
          val score =
            if (selIdx.isEmpty) r6l(0.7 * rel(c))
            else {
              val red = selIdx.map(si => cosLocal(embs(c), embs(si))).max
              r6l(0.7 * rel(c) - 0.3 * red)
            }
          (c, score)
        }
        val (best, bs) = scored.minBy { case (c, sc) => (-sc, ids(c)) }
        selIdx += best
        out += ((selIdx.length, ids(best), rel(best), bs))
      }
      import s.implicits._
      out.toSeq.toDF("rk", "vec_id", "rel", "mmr").orderBy(col("rk"))
    }),

    "vec_knn_join" -> ((s, dir) => {
      val emb = embStore(s, dir)
      val probes = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("embedding").as("qv"))
      val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
      emb.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("sim", round(cosine_sim(col("embedding"), col("qv")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("sim"), col("rn"))
        .orderBy(col("probe_id"), col("rn"))
    }),

    // embedding-cosine near-duplicate detection over a bounded window
    // (vec_id < 256 both sides): pairs above threshold. The unbounded
    // equivalent is vec_lsh_ann's bucket join. Threshold 0.3 yields a
    // non-empty pair set at sf0.01 (max pairwise sim there is ~0.44), so
    // the oracle compares real rows rather than an empty result.
    "dedup_embed_cosine" -> ((s, dir) => {
      val emb = embStore(s, dir).filter(col("vec_id") < 256)
      val b = emb.select(col("vec_id").as("vid2"), col("embedding").as("qv"))
      emb.crossJoin(broadcast(b))
        .filter(col("vec_id") < col("vid2"))
        .withColumn("sim", round(cosine_sim(col("embedding"), col("qv")), 6))
        .filter(col("sim") >= 0.3)
        .select(col("vec_id").as("v1"), col("vid2").as("v2"), col("sim"))
        .orderBy(col("v1"), col("v2"))
    }),

    // same brute-force top-k through the native codegen'd Catalyst
    // expression; k=20 to keep the result distinct from vec_cosine_topk.
    "expr_custom" -> ((s, dir) => {
      val emb = embStore(s, dir)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      emb.crossJoin(broadcast(q))
        .withColumn("sim", round(cosine_sim(col("embedding"), col("qv")), 6))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
    }),

    // random-hyperplane LSH. Corpus-size-derived plane count (see
    // lshPlaneCount) → sign bits → bucket id; candidates share the
    // probe's bucket. The plane coefficients are a pure integer formula,
    // so the DuckDB oracle recomputes the identical buckets — and the
    // identical plane COUNT — and checks the whole ANN path.
    "vec_lsh_ann" -> ((s, dir) => {
      val emb = embStore(s, dir)
      // all sign-bit dot products fuse into one codegen loop
      // (functions/LshBucket) — arithmetic order identical to the HOF
      // chain this replaces, so the oracle's buckets are unchanged
      val withBucket = emb.withColumn("bucket",
        graft.functions.LshBucket.lsh_bucket(col("embedding"), lshPlanesFor(s, dir)))
      val probes = withBucket.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("embedding").as("qv"), col("bucket").as("pbucket"))
      val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
      withBucket.join(broadcast(probes),
          col("bucket") === col("pbucket") && col("vec_id") =!= col("probe_id"))
        .withColumn("sim", round(cosine_sim(col("embedding"), col("qv")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("sim"), col("rn"))
        .orderBy(col("probe_id"), col("rn"))
    }),

    // Recall@k CURVE of the LSH tier vs exact ground truth (k = 1, 3, 5)
    // — vec_ann_recall grades the IVF tier at one k; serving decisions
    // need the curve (recall@1 may be fine while recall@5 collapses, or
    // vice versa — the shape says whether to raise probes or planes).
    // Exact tier: bounded 8-probe broadcast pass (vec_knn_join's
    // license); LSH tier: the SAME bucketed candidates vec_lsh_ann
    // serves. Both deterministic, so the whole curve is hash-oracled.
    "vec_recall_curve" -> ((s, dir) => {
      val emb = embStore(s, dir)
      val withBucket = emb.withColumn("bucket",
        graft.functions.LshBucket.lsh_bucket(col("embedding"), lshPlanesFor(s, dir)))
      val probes = withBucket.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("embedding").as("qv"),
          col("bucket").as("pb"))
      val wP = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
      val exact = emb.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("sim", round(cosine_sim(col("embedding"), col("qv")), 6))
        .withColumn("rk_e", row_number().over(wP)).filter(col("rk_e") <= 5)
        .select(col("probe_id"), col("vec_id"), col("rk_e"))
      val lsh = withBucket.join(broadcast(probes),
          col("bucket") === col("pb") && col("vec_id") =!= col("probe_id"))
        .withColumn("sim", round(cosine_sim(col("embedding"), col("qv")), 6))
        .withColumn("rk_l", row_number().over(wP)).filter(col("rk_l") <= 5)
        .select(col("probe_id"), col("vec_id"), col("rk_l"))
      val j = exact.join(lsh, Seq("probe_id", "vec_id"), "left")
      j.withColumn("k", explode(array(lit(1), lit(3), lit(5))))
        .groupBy(col("k"))
        .agg(count(when(col("rk_e") <= col("k"), 1)).as("n_truth"),
          count(when(col("rk_e") <= col("k") && col("rk_l") <= col("k"), 1)).as("n_hit"))
        .select(col("k"), col("n_truth"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_truth"), 6).as("recall"))
        .orderBy(col("k"))
    }),

    // Incremental-ingest ANN tier: the newest ingest slice
    // (vec_id % 16 = 7, the deterministic stand-in for "this batch's
    // arrivals") probes the STANDING LSH bucket index — planes frozen
    // with the resident corpus, index pinned and built once per
    // (dir, occupancy) — and reports each arrival's top-3 resident
    // neighbors among its bucket-mates. Per-batch cost is batch-sized
    // hashing + bucket-local joins; the index is NEVER rebuilt on ingest
    // (PlanSpec pins the cached-RDD read). Fully DuckDB-oracled: the
    // oracle re-derives the plane count from the resident count(*).
    "vec_index_incremental" -> ((s, dir) => {
      val (planes, idx) = standingIndex(s, dir)
      val batch = embStore(s, dir).filter(col("vec_id") % 16 === 7)
        .withColumn("bucket",
          graft.functions.LshBucket.lsh_bucket(col("embedding"), lshPlanes(planes)))
        .select(col("bucket"), col("vec_id"), col("embedding").as("qv"))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("nbr_id"))
      batch.join(idx.select(col("bucket"), col("vec_id").as("nbr_id"),
          col("embedding").as("nv")), "bucket")
        .withColumn("sim", round(cosine_sim(col("qv"), col("nv")), 6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("vec_id"), col("rk"), col("nbr_id"), col("sim"))
        .orderBy(col("vec_id"), col("rk"))
    }),

    // Approximate k-NN GRAPH construction via one NN-Descent round — the
    // Spark-native answer to the HNSW gap (SURVEY §2.I records the
    // decision): a serving-time HNSW is a pointer-chasing in-memory
    // structure a relational engine shouldn't emulate, but the BATCH
    // artifact behind every graph index — the k-NN graph itself — is
    // exactly a join/agg fixpoint. Init: top-K same-LSH-bucket neighbors
    // (bounded candidate set, never all-pairs). Refine (the NN-Descent
    // move): a node's neighbors' neighbors — plus reverse edges — are
    // better candidates than random; one round re-ranks each node over
    // N ∪ N∘N ∪ Nᵀ, a candidate set bounded by K + K² + K per node at
    // ANY corpus size. Joins are id-equi-joins (shuffle-hash on vec_id),
    // rank windows run over ≤K²+2K-row partitions — every step scales.
    // Deterministic throughout (fixed planes, 6-dp-rounded sims, id
    // tie-breaks), so the full two-phase construction is DuckDB-oracled.
    "vec_knn_graph" -> ((s, dir) =>
      knnGraphFrame(s, dir).orderBy(col("vec_id"), col("rk"))),

    // Hubness report over the approximate k-NN graph — THE
    // embedding-space pathology screen the ANN family needs beside
    // vec_space_health's collapse check (high-dimensional spaces grow
    // "hub" points that appear in everyone's neighbor list and drag
    // retrieval quality; skewed k-occurrence is the standard symptom,
    // Radovanović et al.'s N_k statistic): k-occurrence of each vector =
    // its in-degree in vec_knn_graph's LSH-seeded NN-Descent graph
    // (bucketed construction, never all-pairs), vectors nobody lists
    // enter at 0 via a left join on the id domain, rolled up to the
    // (k_occ, n_vecs) histogram — in-degree-bounded rows at any corpus
    // size. Pure composition of the shared graph construction.
    "vec_hubness" -> ((s, dir) => {
      val occ = knnGraphFrame(s, dir)
        .groupBy(col("nbr_id").as("vec_id")).agg(count(lit(1)).as("k_occ"))
      embStore(s, dir).select(col("vec_id"))
        .join(occ, Seq("vec_id"), "left")
        .withColumn("k_occ", coalesce(col("k_occ"), lit(0L)))
        .groupBy(col("k_occ")).agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("k_occ"))
    }),

    // TwoNN intrinsic-dimension estimate (Facco et al.) — "how many
    // dimensions does this embedding cloud REALLY use?" (the companion
    // number to vec_space_health's participation ratio, but metric-based:
    // it sees curved manifolds PCA-style variance can't). Exact tier over
    // the 256-vector base (anom_lof's whitelisted bounded pair join; the
    // billion-vector path swaps in vec_knn_graph's bucketed 2-NN):
    // per-point 1st/2nd-NN cosine distances gridded to DECIMAL at birth,
    // μ = d2/d1, d̂ = n / Σ ln μ with each ln term 6-dp-gridded before
    // the order-free DECIMAL sum. Duplicate points (d1 = 0) drop on both
    // engines — μ is undefined there.
    "vec_intrinsic_dim" -> ((s, dir) => {
      val base = embStore(s, dir).filter(col("vec_id") < 256)
        .select(col("vec_id"), col("embedding"))
      val pairs = base.as("a").join(base.as("b"),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("v"), col("b.vec_id").as("n"),
          dec(round(lit(1.0) - cosine_sim(col("a.embedding"), col("b.embedding")), 6))
            .as("dist"))
      val w = Window.partitionBy(col("v")).orderBy(col("dist"), col("n"))
      val nn2 = pairs.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .groupBy(col("v")).agg(
          min(when(col("rn") === 1, col("dist"))).as("d1"),
          min(when(col("rn") === 2, col("dist"))).as("d2"))
      nn2.filter(col("d1") > 0)
        .select(dec(round(log(col("d2").cast("double") / col("d1").cast("double")), 6))
          .as("lnmu"))
        .agg(count(lit(1)).as("n_points"),
          round(count(lit(1)).cast("double") / sum(col("lnmu")).cast("double"), 6)
            .as("id_hat"))
    }),

    // Centroid-approximated silhouette per label — the clustering-quality
    // number for a LABELED embedding space (are these label clusters
    // actually separated, or is the probe fooling itself?): classic
    // silhouette is all-pairs; the centroid approximation (a = distance
    // to own centroid, b = nearest other centroid) is the form that
    // scales — label-count-bounded centroid frame broadcast against one
    // corpus pass. Centroids are vec_centroid_agg's sequential ordered
    // folds (identical doubles both engines, no mid-grid needed); cosine
    // distances 6-dp-gridded at birth, s = (b−a)/max(a,b) gridded, label
    // rollup DECIMAL-summed. Also counts misassigned vectors (nearer to
    // a foreign centroid) — the confusion signal retrieval probes watch.
    "vec_silhouette_centroid" -> ((s, dir) => {
      val emb = embStore(s, dir)
      val ex = emb
        .select(col("label"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "fv")))
        .select(col("label"), col("pos"),
          struct(col("vec_id"), col("fv").cast("double").as("v")).as("rec"))
      val cents = ex.groupBy(col("label"), col("pos"))
        .agg(sort_array(collect_list(col("rec"))).as("h"))
        .select(col("label").as("cl"), col("pos"),
          (aggregate(expr("slice(h, 2, size(h) - 1)"),
            col("h").getItem(0).getField("v"),
            (acc, x) => acc + x.getField("v")) / size(col("h"))).as("cv1"))
        .groupBy(col("cl"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv1")))),
          p => p.getField("cv1")).as("cv"))
      val dot = expr("aggregate(zip_with(embedding, cv, (x, y) -> CAST(x AS DOUBLE) * y), " +
        "CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)")
      val nv = expr("aggregate(embedding, CAST(0.0 AS DOUBLE), " +
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
      val nc = expr("aggregate(cv, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)")
      val d = emb.select(col("vec_id"), col("label"), col("embedding"))
        .crossJoin(broadcast(cents))
        .withColumn("dist",
          dec(round(lit(1.0) - dot / (sqrt(nv) * sqrt(nc)), 6)))
      val ab = d.groupBy(col("vec_id"), col("label"))
        .agg(max(when(col("cl") === col("label"), col("dist"))).as("a"),
          min(when(col("cl") =!= col("label"), col("dist"))).as("b"))
        .withColumn("sil", dec(round(
          (col("b") - col("a")).cast("double") /
            greatest(col("a"), col("b")).cast("double"), 6)))
      ab.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("sil")).cast("double") / count(lit(1)), 6)
            .as("mean_silhouette"),
          sum(when(col("b") < col("a"), 1L).otherwise(0L)).as("n_misassigned"))
        .orderBy(col("label"))
    }),

    // Hard-negative mining for contrastive training — the third consumer
    // of the LSH candidate generator: a good negative is CLOSE but not a
    // duplicate (random negatives are too easy; near-dups are false
    // negatives), so take the [0.3, 0.8) cosine band of the bucketed
    // candidate pairs, symmetrize (each side anchors), and keep each
    // anchor's 2 HARDEST (highest-sim) negatives under a (sim, id) total
    // order. Bucket-equi-join candidates only — never all-pairs — and the
    // per-anchor window is K-bounded; the exact shape a billion-pair
    // training-pair pipeline runs. Band frame is pinned: both union
    // branches read it.
    "vec_hard_negatives" -> ((s, dir) => {
      val hard = persistShared("vec_hardneg_band",
        lshRangePairs(s, dir).filter(col("sim") < 0.8))
      val sym = hard.select(col("v1").as("anchor"), col("v2").as("neg"), col("sim"))
        .unionAll(hard.select(col("v2").as("anchor"), col("v1").as("neg"), col("sim")))
      val w = Window.partitionBy(col("anchor")).orderBy(col("sim").desc, col("neg"))
      sym.withColumn("rk", row_number().over(w)).filter(col("rk") <= 2)
        .select(col("anchor"), col("rk"), col("neg").as("negative_id"), col("sim"))
        .orderBy(col("anchor"), col("rk"))
    }),

    // Local Outlier Factor (k=4) over the embedding space — the DENSITY
    // anomaly detector the z-score/IQR family can't express (a point can
    // be globally ordinary yet sit alone between two clusters): LOF =
    // mean neighbor lrd / own lrd. Exact tier over a 256-vector base
    // (whitelisted bounded self-join — 65k pairs; the billion-vector
    // path swaps the pair source for vec_knn_graph's LSH-bucketed kNN,
    // every downstream step already key-grain). Distances 6-dp-gridded
    // to DECIMAL at birth, so k-dist/reach-dist (max/greatest) and the
    // k-term reachability and lrd sums are EXACT decimal folds — the
    // two divisions (lrd, lof) are the only inexact steps, each gridded
    // immediately (a raw 4-term double sum would be partial-agg
    // order-dependent). kNN frame checkpointed once, read three times.
    "anom_lof" -> ((s, dir) => {
      val K = 4
      val base = embStore(s, dir).filter(col("vec_id") < 256)
        .select(col("vec_id"), col("embedding"))
      val pairs = base.as("a").join(base.as("b"),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("v"), col("b.vec_id").as("n"),
          dec(round(lit(1.0) - cosine_sim(col("a.embedding"), col("b.embedding")),
            6)).as("dist"))
      val w = Window.partitionBy(col("v")).orderBy(col("dist"), col("n"))
      val knn = pairs.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K).select(col("v"), col("n"), col("dist"))
        .transform(RoundPin.pin)
      val kd = knn.groupBy(col("v")).agg(max(col("dist")).as("kdist"))
      val lrd = knn.join(kd.select(col("v").as("n"), col("kdist").as("nkd")), "n")
        .select(col("v"), greatest(col("nkd"), col("dist")).as("rd"))
        .groupBy(col("v"))
        .agg(when(sum(col("rd")) > 0,
          dec(round(lit(4.0) / sum(col("rd")).cast("double"), 6))).as("lrd"))
      val slo = knn.join(lrd.select(col("v").as("n"), col("lrd").as("nlrd")), "n")
        .groupBy(col("v")).agg(sum(col("nlrd")).as("slo"))
      kd.join(lrd, "v").join(slo, "v")
        .select(col("v").as("vec_id"),
          col("kdist").cast("double").as("k_dist"),
          col("lrd").cast("double").as("lrd"),
          round(col("slo").cast("double") /
            (lit(4.0) * col("lrd").cast("double")), 6).as("lof"))
        .orderBy(col("vec_id"))
    }),

    // Range search (the "all pairs above a similarity floor" dual of
    // top-k): every embedding pair with cosine ≥ 0.3 whose signatures
    // share an LSH bucket. This is the embedding-side analog of
    // text_dedup_near's banded MinHash — candidate pairs come from a
    // bucket-keyed self-equi-join (N²/buckets pairs scored, never an
    // all-pairs cross), which is the only shape that survives a
    // billion-vector corpus. Recall < 1 by construction (pairs split
    // across buckets are unseen) — the same deterministic plane formula
    // runs in the oracle, so the approximation itself is hash-verified.
    "vec_range_search" -> ((s, dir) =>
      lshRangePairs(s, dir)
        .orderBy(col("v1"), col("v2"))),

    // The vector twin of dedup_rep_collapse (round 16): each vector's
    // exact-duplicate representative (min vec_id over identical
    // embeddings) and cluster size — the ledger the rep-collapsed LSH
    // bucket join re-expands from. Window over the embedding value
    // itself (no hash, no collision semantics); fully oracle-able.
    "vec_dup_collapse" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("embedding"))
      embStore(s, dir)
        .select(col("vec_id"),
          min(col("vec_id")).over(w).as("rep"),
          count(lit(1)).over(w).as("cluster_size"))
        .orderBy(col("vec_id"))
    }),

    // Near-dup threshold calibration sweep — the curve every dedup
    // pipeline reads before committing a cosine cut: pairs surviving and
    // docs dropped (keep-lowest-id rule: distinct v2) at each candidate
    // threshold. ONE LSH candidate pass (pinned — four thresholds read
    // it), a 4× explode on the PAIR grain (≪ corpus), conditional
    // aggregation so empty thresholds still emit a row. At 100 TB the
    // pair frame is the LSH-bounded candidate set, never all-pairs.
    "vec_dedup_threshold_sweep" -> ((s, dir) => {
      val pairs = lshRangePairs(s, dir).transform(RoundPin.pin)
      pairs
        .withColumn("threshold",
          explode(typedlit(Seq(0.80, 0.85, 0.90, 0.95))))
        .groupBy(col("threshold"))
        .agg(
          count(when(col("sim") >= col("threshold"), 1)).as("n_pairs"),
          countDistinct(when(col("sim") >= col("threshold"), col("v2")))
            .as("n_docs_dropped"))
        .orderBy(col("threshold"))
    }),

    // semantic near-dup CLUSTERING — the policy layer on top of range
    // search: LSH-cosine pairs become an undirected graph, HashMin label
    // propagation (operators/Components, shared with dedup_cluster's
    // Jaccard graph) folds it to connected components, min vec_id is the
    // kept representative. This is the embedding-side dedup big corpora
    // actually run (SemDeDup-style): candidate edges from bucket joins —
    // never all-pairs — and a component fixpoint whose iterated frames
    // are bounded by the EDGE-TOUCHED node set (most of any real corpus
    // is singleton and never enters the loop).
    "dedup_semantic_cluster" -> ((s, dir) => semanticClusterFrame(s, dir)),

    // Product-quantization ANN (PQ + ADC re-rank): M=8 subspaces × 8 dims,
    // K=16 codewords per subspace, codebook TRAINED by deterministic
    // fixed-iteration Lloyd (first-K seed, DECIMAL-exact means — bit-
    // stable at any parallelism, so the whole path incl. training is
    // DuckDB-oracled). Every vector is ENCODED once to M
    // small codes — at a billion vectors that 8-bytes-per-vector index
    // (vs 256 for raw floats) is what fits an ANN index in cluster RAM;
    // probes then score candidates by codeword table LOOKUP (asymmetric
    // distance, no full-dim math per pair), shortlist the top-8, and only
    // the shortlist pays an exact cosine re-rank. Per-subspace distances
    // pass through an exact DECIMAL cast before the cross-subspace sum so
    // parallel partial aggregation cannot perturb the ADC ordering.
    "vec_pq_ann" -> ((s, dir) => {
      val emb = embStore(s, dir)
      val cb = pqCodebook(emb, dir)
      val codes = pqCodes(emb, cb)
      val pd = pqAdcTable(emb, cb)
      // ADC scores ALL vectors (by table lookup, not full-dim math);
      // shortlist the top-8 per probe, exact-re-rank only those
      val wShort = Window.partitionBy(col("probe_id")).orderBy(col("adist"), col("vec_id"))
      val short = codes.join(broadcast(pd), col("m") === col("pm") && col("cw") === col("pcw"))
        .filter(col("vec_id") =!= col("probe_id"))
        .groupBy(col("probe_id"), col("vec_id"))
        .agg(sum(col("dd")).as("adist"))
        .withColumn("srn", row_number().over(wShort))
        .filter(col("srn") <= 8)
        .select(col("probe_id"), col("vec_id"))
      rerank(emb, short)
    }),

    // IVF + PQ — the production-shaped ANN index (a coarse quantizer
    // prunes the candidate set to the probe's nearest cells, product
    // codes make scoring those candidates a table lookup): probe →
    // nearest 2 medoid-seeded label cells → ADC-score ONLY those cells'
    // vectors via their PQ codes → shortlist top-8 → exact cosine
    // re-rank. At 100 TB this composition is what runs: N/cells
    // candidates × O(M) lookup each, with the raw vectors touched only
    // for the shortlist. Deterministic construction end to end → fully
    // DuckDB-oracled like every other ANN tier.
    "vec_ivfpq_ann" -> ((s, dir) => {
      val emb = embStore(s, dir)
      val cb = pqCodebook(emb, dir)
      val codes = pqCodes(emb, cb)
      val pd = pqAdcTable(emb, cb)
      // cell seeds + probe→top-2-cell assignment as hash aggs (min_by /
      // sort-slice over a cells-count-sized list), not sort windows —
      // the seed scan is full-table-sized, so the window's shuffle+sort
      // would be the dominant cost of index construction at scale
      val centroids = emb.groupBy(col("label"))
        .agg(min_by(col("embedding"), col("vec_id")).as("cvv"))
        .select(col("label").as("c_label"), col("cvv"))
      val probeCells = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("pc_probe"), col("embedding"))
        .crossJoin(broadcast(centroids))
        .withColumn("csim", round(cosine_sim(col("embedding"), col("cvv")), 6))
        .groupBy(col("pc_probe"))
        .agg(slice(sort_array(collect_list(
          struct((-col("csim")).as("nsim"), col("c_label")))), 1, 2).as("top2"))
        .select(col("pc_probe"), explode(col("top2").getField("c_label")).as("c_label"))
      val wShort = Window.partitionBy(col("probe_id")).orderBy(col("adist"), col("vec_id"))
      val short = codes
        .join(broadcast(probeCells), col("label") === col("c_label"))
        .join(broadcast(pd),
          col("pc_probe") === col("probe_id") &&
            col("m") === col("pm") && col("cw") === col("pcw"))
        .filter(col("vec_id") =!= col("probe_id"))
        .groupBy(col("probe_id"), col("vec_id"))
        .agg(sum(col("dd")).as("adist"))
        .withColumn("srn", row_number().over(wShort))
        .filter(col("srn") <= 8)
        .select(col("probe_id"), col("vec_id"))
      rerank(emb, short)
    }),

    // IVF-style ANN — coarse cells seeded by the label column's MEDOID
    // (the lowest-id member per label; a deterministic k-means stand-in:
    // bit-stable across parallelism, unlike a parallel-summed mean, so the
    // whole path is DuckDB-oracled); probe → nearest 2 cells → exact
    // cosine inside those cells only.
    "vec_ivf_ann" -> ((s, dir) => {
      val emb = embStore(s, dir)
      // same hash-agg shapes as vec_ivfpq_ann: min_by medoid seeds,
      // sort-slice top-2 cell assignment — no full-table sort window
      val centroids = emb.groupBy(col("label"))
        .agg(min_by(col("embedding"), col("vec_id")).as("qv"))
        .select(col("label").as("c_label"), col("qv"))
      val probes = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      val probeCells = probes.crossJoin(broadcast(centroids))
        .withColumn("csim", round(cosine_sim(col("embedding"), col("qv")), 6))
        .groupBy(col("probe_id"))
        .agg(slice(sort_array(collect_list(
          struct((-col("csim")).as("nsim"), col("c_label")))), 1, 2).as("top2"))
        .select(col("probe_id"), explode(col("top2").getField("c_label")).as("c_label"))
      val cands = emb.join(broadcast(probeCells), emb("label") === probeCells("c_label"))
        .filter(col("vec_id") =!= col("probe_id"))
      val probeVecs = probes.select(col("probe_id").as("p2"), col("embedding").as("qv"))
      val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
      cands.join(broadcast(probeVecs), col("probe_id") === col("p2"))
        .withColumn("sim", round(cosine_sim(col("embedding"), col("qv")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("sim"), col("rn"))
        .orderBy(col("probe_id"), col("rn"))
    }),

    // IVF index-health report — profile_skew_report's vector-index twin
    // (an unbalanced cell list serves p99 latency from its fattest
    // cell): every vector assigned to its NEAREST centroid (top-1 over
    // the broadcast centroid frame — at fixture scale a per-vec rank
    // window; at 100 TB the same argmax as a min_by hash agg), then
    // per-cell size, load factor vs ideal, and the foreign share —
    // vectors whose own label ≠ their nearest cell, the reassignment
    // rate a re-clustering would fix.
    "vec_ivf_balance" -> ((s, dir) => {
      val emb = embStore(s, dir)
      val centroids = emb.groupBy(col("label"))
        .agg(min_by(col("embedding"), col("vec_id")).as("qv"))
        .select(col("label").as("c_label"), col("qv"))
      val wA = Window.partitionBy(col("vec_id"))
        .orderBy(col("csim").desc, col("c_label"))
      val assign = emb.crossJoin(broadcast(centroids))
        .withColumn("csim", round(cosine_sim(col("embedding"), col("qv")), 6))
        .withColumn("crn", row_number().over(wA))
        .filter(col("crn") === 1)
        .select(col("vec_id"), col("label"), col("c_label").as("cell"))
      assign.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
          count(when(col("label") =!= col("cell"), 1)).as("n_foreign"))
        .withColumn("total", sum(col("n_vecs")).over(Window.partitionBy()))
        .withColumn("n_cells", count(lit(1)).over(Window.partitionBy()))
        .select(col("cell"), col("n_vecs"), col("n_foreign"),
          round(col("n_vecs").cast("double") * col("n_cells") / col("total"), 6)
            .as("load_factor"),
          round(col("n_foreign").cast("double") / col("n_vecs"), 6)
            .as("foreign_share"))
        .orderBy(col("cell"))
    }),

    // the index-quality harness: recall@3 of the IVF tier against the
    // brute-force ground truth, per probe — the eval every ANN deployment
    // runs before trusting a pruned index. Built by COMPOSING the two
    // registered queries (the engine grades its own index with its own
    // operators); the oracle composes the same two oracle CTEs. Both
    // sides are deterministic, so recall itself is hash-oracled — a
    // pruning regression in any ANN tier moves this number before anyone
    // reads a benchmark.
    // Rank-biased overlap (RBO@3, p = 0.9) between the exact ranker and
    // the IVF tier — recall counts WHICH neighbors survive; RBO weights
    // WHERE they sit (losing rank-1 should hurt more than losing
    // rank-3 — the top-weighted list-comparison metric IR evaluation
    // uses when two rankers must be graded beyond set overlap). The
    // truncated form Σ_d (1−p)p^(d−1)·|A_d∩B_d|/d re-expresses per
    // MATCHED PAIR as a suffix-sum lookup on max(rank_A, rank_B) — the
    // three weights are EXACT decimal literals on both engines
    // (0.172 / 0.072 / 0.027), so the per-probe sum is decimal-exact.
    // Composes two registered deterministic queries (vec_ann_recall's
    // precedent); a LEFT join keeps zero-overlap probes at rbo = 0.
    "eval_rbo" -> ((s, dir) => {
      val a = queries("vec_knn_join")(s, dir)
        .select(col("probe_id"), col("neighbor_id"), col("rn").as("rka"))
      val b = queries("vec_ivf_ann")(s, dir)
        .select(col("probe_id").as("pb"), col("neighbor_id").as("nb"),
          col("rn").as("rkb"))
      a.join(b, col("probe_id") === col("pb") &&
          col("neighbor_id") === col("nb"), "left")
        // greatest() SKIPS nulls on both engines, so an unmatched row
        // would contribute S(rank_A) — gate on the match explicitly
        .withColumn("contrib", when(col("nb").isNotNull,
          when(greatest(col("rka"), col("rkb")) === 1,
            lit(BigDecimal("0.172")))
          .when(greatest(col("rka"), col("rkb")) === 2,
            lit(BigDecimal("0.072")))
          .when(greatest(col("rka"), col("rkb")) === 3,
            lit(BigDecimal("0.027")))))
        .groupBy(col("probe_id"))
        .agg(count(col("nb")).as("n_common"),
          coalesce(sum(col("contrib")), lit(BigDecimal("0")))
            .cast("double").as("rbo"))
        .orderBy(col("probe_id"))
    }),

    "vec_ann_recall" -> ((s, dir) => {
      val truth = queries("vec_knn_join")(s, dir)
        .select(col("probe_id"), col("neighbor_id"))
      val ann = queries("vec_ivf_ann")(s, dir)
        .select(col("probe_id").as("a_probe"), col("neighbor_id").as("a_n"))
      truth.join(ann,
          truth("probe_id") === ann("a_probe") && truth("neighbor_id") === ann("a_n"),
          "left")
        .groupBy(col("probe_id"))
        .agg(count(lit(1)).as("k"), count(col("a_n")).as("n_hit"))
        .withColumn("recall", round(col("n_hit") / col("k"), 6))
        .orderBy(col("probe_id"))
    }),

    // Top principal component by distributed POWER ITERATION — the
    // dimensionality-reduction primer every embedding pipeline runs
    // (which direction carries the variance; the whitening axis before
    // ANN). Never materializes the d×d covariance: each of 3 rounds
    // computes M·v = n·Σx(xᵀv) − Sx(Sxᵀv) (M = n²·Cov, same
    // eigenvectors) as ONE fact pass — per-row dot with the broadcast
    // 64-row v, then a dim-grain weighted agg — the matrix-free shape
    // that scales to any corpus. Cross-engine determinism: inputs 6-dp
    // gridded to DECIMAL(18,6); every sum is a decimal sum; every float
    // op is PER-ELEMENT (two products + a subtract, a /10⁶ rescale that
    // cancels in normalization, one sqrt on a decimal-exact Σw², one
    // division) — no cross-row double summation exists, so there is no
    // order to diverge on. Sign fixed by the max-|loading| component
    // (pos tiebreak). The DuckDB twin unrolls the same 3 rounds as CTEs.
    "vec_pca_power" -> ((s, dir) => {
      val d6 = DecimalType(18, 6)
      val r6d = (c: Column) => round(c.cast("double"), 6).cast(d6)
      val base = persistSharedPerDir("vec_pca_base", dir,
        embStore(s, dir).select(col("vec_id"),
            posexplode(col("embedding")).as(Seq("pos", "fv")))
          .select(col("vec_id"), col("pos"), r6d(col("fv")).as("xv")))
      val nRow = embStore(s, dir).agg(count(lit(1)).as("n"))
      val sx = base.groupBy(col("pos")).agg(sum(col("xv")).cast(d6).as("sxv"))
        .transform(RoundPin.pin)
      var v = sx.select(col("pos"), lit(1).cast(d6).as("vv"))
      for (_ <- 1 to 3) {
        val s6 = base.join(broadcast(v), "pos")
          .groupBy(col("vec_id"))
          .agg(r6d(sum(col("xv") * col("vv"))).as("s6"))
        val a6 = base.join(s6, "vec_id")
          .groupBy(col("pos"))
          .agg(r6d(sum(col("xv") * col("s6"))).as("a6"))
        val stv6 = sx.join(broadcast(v), "pos")
          .agg(r6d(sum(col("sxv") * col("vv"))).as("stv6"))
        val w = a6.join(sx, "pos").crossJoin(broadcast(stv6))
          .crossJoin(broadcast(nRow))
          .withColumn("wd", col("n").cast("double") * col("a6").cast("double") -
            col("sxv").cast("double") * col("stv6").cast("double"))
          .withColumn("w6", round(col("wd") / 1000000.0, 6).cast(d6))
          .transform(RoundPin.pin) // 64 rows; cuts the fact-agg lineage so the
                             // norm + renormalize reads don't re-run it
        val nrm = w.agg(sum(col("w6") * col("w6")).as("nn"))
          .select(sqrt(col("nn").cast("double")).as("nrm"))
        v = w.crossJoin(broadcast(nrm))
          .select(col("pos"),
            round(col("w6").cast("double") / col("nrm"), 6).cast(d6).as("vv"))
      }
      val wA = Window.orderBy(abs(col("vv")).desc, col("pos"))
      val vChk = v.transform(RoundPin.pin)
      val sign = vChk.withColumn("rk", row_number().over(wA))
        .filter(col("rk") === 1)
        .select(when(col("vv") < 0, -1).otherwise(1).as("sg"))
      vChk.crossJoin(broadcast(sign))
        .select(col("pos"),
          round((col("vv") * col("sg")).cast("double"), 6).as("loading"))
        .orderBy(col("pos"))
    }),

    // Embedding-distribution drift between two corpus halves (vec_id
    // parity — the deterministic A/B split) — the "did my embedding
    // space move" monitor run between model or corpus versions before
    // ANN indexes are trusted across them. The statistic is
    // ‖μ_A − μ_B‖ NORMALIZED by the mean vector norm (centroid cosine
    // is noise on zero-centered spaces — the spec proved it at −0.07 on
    // the fixture; the distance ratio is the scale-free signal: parity
    // halves of one corpus read ≈√(2/n), a real shift reads O(1)).
    // Centroid means decimal-gridded per dimension (vec_pca discipline),
    // the difference/norm sums run over 64 exact DECIMAL products, the
    // norm reference reuses the gridded per-vector L2 mean — no
    // cross-row double summation anywhere; one base pass + one
    // vec-grain agg.
    // Per-dimension variance screen — the vector-side feature-selection
    // pass (a near-constant coordinate carries no ranking signal but
    // still costs memory/compute in every dot product; Matryoshka-style
    // truncation and PQ subspace design both start from exactly this
    // table): coordinates quantize to the 6-dp integer grid at birth so
    // the per-dim moment sums are DECIMAL-exact and n·Q − S² is an exact
    // integer — the informative-dims ranking (is_top) compares exact
    // integers and can't flip on a ulp. One posexplode + 64-row hash agg
    // + a bounded 64-row window.
    "vec_dim_variance" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast(DecimalType(38, 0))
      val ex = embStore(s, dir)
        .select(posexplode(col("embedding")).as(Seq("pos", "fv")))
        .select(col("pos"),
          expr("CAST(round(CAST(fv AS DOUBLE) * 1000000, 0) AS BIGINT)")
            .as("v6"))
      val m = ex.groupBy(col("pos")).agg(count(lit(1)).as("n"),
          sum(d38(col("v6"))).as("s6"),
          sum(d38(col("v6")) * d38(col("v6"))).as("q6"))
        .withColumn("tv", col("q6") * col("n") - col("s6") * col("s6"))
      val w = Window.orderBy(col("tv").desc, col("pos"))
      m.withColumn("rk", row_number().over(w))
        .select(col("pos"), col("n"),
          round(col("s6").cast("double") / col("n") / 1.0e6, 6).as("mean"),
          round(col("tv").cast("double") / (col("n") * (col("n") - 1)) /
            1.0e12, 6).as("variance"),
          (col("rk") <= 8).as("is_top"))
        .orderBy(col("pos"))
    }),

    "vec_drift" -> ((s, dir) => {
      val d6 = DecimalType(18, 6)
      val r6d = (c: Column) => round(c.cast("double"), 6).cast(d6)
      val base = persistSharedPerDir("vec_pca_base", dir,
        embStore(s, dir).select(col("vec_id"),
            posexplode(col("embedding")).as(Seq("pos", "fv")))
          .select(col("vec_id"), col("pos"), r6d(col("fv")).as("xv")))
      val cent = base.withColumn("half", (col("vec_id") % 2).cast("int"))
        .groupBy(col("half"), col("pos"))
        .agg(sum(col("xv")).as("sx"), count(lit(1)).as("n"))
        .select(col("half"), col("pos"),
          round(col("sx").cast("double") / col("n"), 6).cast(d6).as("cv"),
          col("n"))
      val wide = cent.groupBy(col("pos")).agg(
        max(when(col("half") === 0, col("cv"))).as("ca"),
        max(when(col("half") === 1, col("cv"))).as("cb"),
        max(when(col("half") === 0, col("n"))).as("na"),
        max(when(col("half") === 1, col("n"))).as("nb"))
      val dist = wide.agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum((col("ca") - col("cb")) * (col("ca") - col("cb"))).as("dd"))
      val ref = base.groupBy(col("vec_id"))
        .agg(sum(col("xv") * col("xv")).as("ss"))
        .agg(round(sum(round(sqrt(col("ss").cast("double")), 6).cast(d6))
          .cast("double") / count(lit(1)), 6).as("mean_norm"))
      dist.crossJoin(broadcast(ref))
        .select(col("n_a"), col("n_b"),
          round(sqrt(col("dd").cast("double")), 6).as("centroid_dist"),
          col("mean_norm"),
          round(sqrt(col("dd").cast("double")) / col("mean_norm"), 6)
            .as("drift_ratio"))
    }),

    // Embedding-space health report — the representation-collapse screen
    // run before trusting any similarity search (anisotropic/collapsed
    // spaces break cosine ranking): norm distribution (mean/min/max of
    // per-vector L2, 6-dp-gridded before the order-free mean) and
    // EFFECTIVE DIMENSIONALITY via the participation ratio
    // (Σvar)²/Σvar² over per-coordinate variances — 64 means effective
    // use of every axis, ≈1 means collapse onto a line. Variances come
    // from the shared decimal-gridded (vec, pos) base (one pass, exact
    // DECIMAL sums); the 64 per-dim terms are 9/12-dp-gridded before
    // their sums so no cross-row double order exists anywhere.
    "vec_space_health" -> ((s, dir) => {
      val d6 = DecimalType(18, 6)
      val r6d = (c: Column) => round(c.cast("double"), 6).cast(d6)
      val base = persistSharedPerDir("vec_pca_base", dir,
        embStore(s, dir).select(col("vec_id"),
            posexplode(col("embedding")).as(Seq("pos", "fv")))
          .select(col("vec_id"), col("pos"), r6d(col("fv")).as("xv")))
      val norms = base.groupBy(col("vec_id"))
        .agg(sum(col("xv") * col("xv")).as("ss"))
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(round(sqrt(col("ss").cast("double")), 6).cast(d6))
            .cast("double") / count(lit(1)), 6).as("mean_norm"),
          round(min(sqrt(col("ss").cast("double"))), 6).as("min_norm"),
          round(max(sqrt(col("ss").cast("double"))), 6).as("max_norm"))
      val dims = base.groupBy(col("pos"))
        .agg(sum(col("xv")).as("sx"), sum(col("xv") * col("xv")).as("sxx"),
          count(lit(1)).as("n"))
      val vj = (col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double") / col("n")) / col("n")
      val pr = dims
        .select(round(vj, 9).cast(DecimalType(18, 9)).as("v"),
          round(vj * vj, 12).cast(DecimalType(18, 12)).as("v2"))
        .agg(count(lit(1)).as("dim"),
          round(sum(col("v")).cast("double") * sum(col("v")).cast("double") /
            sum(col("v2")).cast("double"), 6).as("effective_dim"))
      norms.crossJoin(broadcast(pr))
        .select(col("n_vecs"), col("dim"), col("mean_norm"), col("min_norm"),
          col("max_norm"), col("effective_dim"),
          round(col("effective_dim") / col("dim"), 6).as("dim_utilization"))
    }),

    // Reciprocal-rank fusion of two ANN tiers (IVF cells + binary
    // Hamming prefilter) — the hybrid-search combiner every retrieval
    // stack runs when two indexes disagree: score(d) = Σ 1/(60+rank_i)
    // over the lists that contain d (the standard k=60 constant as an
    // exact literal), missing-from-one-list handled by the outer join —
    // no rank imputation. COMPOSES two registered queries (the
    // vec_ann_recall precedent: the engine fuses its own indexes); both
    // tiers are deterministic, so the fused ranking is fully oracled by
    // composing the same two oracle CTEs. The per-tier 1/(60+r) terms
    // are 9-dp-gridded before the decimal sum.
    "vec_rrf_fusion" -> ((s, dir) => {
      val ivf = queries("vec_ivf_ann")(s, dir)
        .filter(col("probe_id") === 0)
        .select(col("neighbor_id"), col("rn").as("r_ivf"))
      val ham = queries("vec_binary_hamming_topk")(s, dir)
        .withColumn("r_ham", row_number().over(
          Window.orderBy(col("sim").desc, col("vec_id"))))
        .select(col("vec_id").as("neighbor_id"), col("r_ham"))
      val term = (c: Column) => when(c.isNotNull,
        round(lit(1.0) / (lit(60) + c), 9)).otherwise(lit(0.0))
      ivf.join(ham, Seq("neighbor_id"), "full_outer")
        .select(col("neighbor_id"),
          (term(col("r_ivf")).cast(DecimalType(18, 9)) +
            term(col("r_ham")).cast(DecimalType(18, 9))).as("rrfd"),
          coalesce(col("r_ivf"), lit(0)).as("rank_ivf"),
          coalesce(col("r_ham"), lit(0)).as("rank_hamming"))
        .select(col("neighbor_id"), round(col("rrfd").cast("double"), 6).as("rrf"),
          col("rank_ivf"), col("rank_hamming"))
        .orderBy(col("rrf").desc, col("neighbor_id"))
    }),

    // Maximal-marginal-relevance retrieval (λ = 0.7, 5 picks from the
    // 20-candidate cosine shortlist of probe 0) — the diversity-aware
    // re-ranker between raw top-k and dedup_embed_cosine's hard cut:
    // each pick maximizes λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s), so the
    // result covers the neighborhood instead of returning five
    // near-duplicates. The selection loop is BOUNDED-ROUND (MmrPicks
    // unrolled steps, the kcore/pagerank discipline) over a constant-size
    // frame: the shortlist and its 20×20 pairwise-sim grid are built once
    // (broadcast joins, 6-dp-gridded sims), each step is one ≤20-row
    // argmax with a (score desc, id) total order — candidate generation
    // is the only corpus-scale pass, everything after is O(k²).
    "vec_mmr" -> ((s, dir) => {
      val emb = embStore(s, dir)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val cands = persistShared("mmr_cands", emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("sim", round(cosine_sim(col("embedding"), col("qv")), 6))
        .orderBy(col("sim").desc, col("vec_id")).limit(20)
        .select(col("vec_id"), col("embedding"), col("sim")))
      val pairs = persistShared("mmr_pairs", cands.as("a")
        .join(broadcast(cands.as("b")),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
          round(cosine_sim(col("a.embedding"), col("b.embedding")), 6)
            .as("psim")))
      var sel = cands.orderBy(col("sim").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), lit(1).as("rank"), col("sim").as("score"))
        .transform(RoundPin.pin)
      for (step <- 2 to MmrPicks) {
        val mx = pairs.join(broadcast(sel.select(col("vec_id").as("vb"))), Seq("vb"))
          .groupBy(col("va")).agg(max(col("psim")).as("mx"))
        val pick = cands
          .join(broadcast(sel.select(col("vec_id"))), Seq("vec_id"), "left_anti")
          .join(mx, col("vec_id") === col("va"))
          .select(col("vec_id"),
            round(lit(0.7) * col("sim") - lit(0.3) * col("mx"), 6).as("score"))
          .orderBy(col("score").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), lit(step).as("rank"), col("score"))
        sel = sel.unionAll(pick).transform(RoundPin.pin)
      }
      sel.select(col("rank"), col("vec_id"), col("score")).orderBy(col("rank"))
    }),

    // K-means (K = 8, KmeansRounds bounded Lloyd iterations) over the
    // full 64-dim embeddings — the clustering workhorse the PQ codebook
    // trainer already runs per subspace, exposed as a first-class
    // whole-vector operator (vector-store sharding keys, corpus topic
    // buckets, IVF cell training all start here). EVERY round is
    // decimal-EXACT: vectors and centroids live on the 6-dp grid, the L2
    // assignment distance Σ(x−c)² is a DECIMAL(12,6)² product sum (no
    // float op anywhere in the argmin, so cluster membership is
    // bit-deterministic on both engines — ties break to the lowest
    // cluster id), and the new centroid is the one double division
    // sum/count re-gridded to 6 dp. Per round: one 512-row broadcast
    // join, one |vecs|×8 agg, one 8-row-per-vector argmin window, one
    // (k × 64)-grain mean — linear passes, no global sort, the
    // matrix-free shape that scales to any corpus. Seeds = the first K
    // vectors (deterministic, the PQ first-K discipline); a cluster
    // emptying drops out (documented, deterministic on both engines).
    // SPHERICAL k-means — vec_kmeans' cosine-geometry twin and the
    // variant text/embedding clustering actually runs (directions
    // matter, magnitudes don't): vectors L2-normalize onto the 6-dp
    // grid once, assignment is argMAX dot product against UNIT
    // centroids (exact decimal sums — no sqrt in the inner loop), and
    // each Lloyd update re-projects the mean back onto the sphere.
    // Same bounded-round/checkpoint discipline as vec_kmeans; the twin
    // unrolls the rounds CTE for CTE. Output: cluster sizes + cohesion
    // (mean within-cluster cosine — the spherical inertia).
    "vec_spherical_kmeans" -> ((s, dir) => {
      sphericalAssign(s, dir).groupBy(col("k"))
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("dot")).cast("double") / count(lit(1)), 6)
            .as("cohesion"))
        .select(col("k").as("cluster"), col("n_vecs"), col("cohesion"))
        .orderBy(col("cluster"))
    }),

    // Normalized mutual information between the bounded-Lloyd clustering
    // and the embeddings' label column — the external cluster-quality
    // audit beside vec_silhouette_centroid's internal one (silhouette
    // asks "are the clusters tight?"; NMI asks "do they RECOVER the
    // known structure?" — the number an embedding-pipeline regression
    // gate watches). Shares kmeansAssignCent with vec_kmeans (identical
    // loop, identical oracle CTEs); the contingency is cluster×label
    // bounded (≤8×|labels| cells), every entropy term 6-dp-gridded
    // before an order-free DECIMAL sum, NMI = MI/√(H_C·H_L).
    "vec_cluster_nmi" -> ((s, dir) => {
      val d6 = DecimalType(18, 6)
      val (assign, _) = kmeansAssignCent(s, dir)
      val ct = persistShared("nmi_ct", assign.select(col("vec_id"), col("k"))
        .join(embStore(s, dir).select(col("vec_id"), col("label")), "vec_id")
        .groupBy(col("k"), col("label")).agg(count(lit(1)).as("nkl")))
      val ak = persistShared("nmi_ak",
        ct.groupBy(col("k")).agg(sum(col("nkl")).as("ak")))
      val bl = persistShared("nmi_bl",
        ct.groupBy(col("label")).agg(sum(col("nkl")).as("bl")))
      val nT = ct.agg(sum(col("nkl")).as("n"))
      // ALL THREE entropy sums fold on the joined ct grain — H(C) =
      // −Σ_kl (nkl/n)·ln(ak/n) equals −Σ_k (ak/n)·ln(ak/n) exactly and
      // keeps the whole query one pass over the pinned contingency (the
      // 2-frame formulation replayed the cached frames 10×, the
      // graph_hits lint class). Terms 6-dp-gridded, order-free DECIMAL
      // sums, identical formulation in the oracle.
      val nD = col("n").cast("double")
      val p = col("nkl").cast("double") / nD
      val miT = round(p * log(col("nkl").cast("double") * nD /
        (col("ak").cast("double") * col("bl"))), 6)
      val hcT = round(-p * log(col("ak").cast("double") / nD), 6)
      val hlT = round(-p * log(col("bl").cast("double") / nD), 6)
      val agg0 = ct.join(broadcast(ak), "k").join(broadcast(bl), "label")
        .crossJoin(broadcast(nT))
        .agg(max(col("n")).as("n_vecs"),
          countDistinct(col("k")).as("n_clusters"),
          countDistinct(col("label")).as("n_labels"),
          sum(miT.cast(d6)).cast("double").as("mi"),
          sum(hcT.cast(d6)).cast("double").as("h_cluster"),
          sum(hlT.cast(d6)).cast("double").as("h_label"))
      agg0.select(col("n_vecs"), col("n_clusters"), col("n_labels"),
        round(col("mi"), 6).as("mi"),
        round(col("h_cluster"), 6).as("h_cluster"),
        round(col("h_label"), 6).as("h_label"),
        round(col("mi") / sqrt(col("h_cluster") * col("h_label")), 6).as("nmi"))
    }),

    "vec_kmeans" -> ((s, dir) => {
      val (assign, cent) = kmeansAssignCent(s, dir)
      val sizes = assign.groupBy(col("k"))
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("d2")).cast("double"), 6).as("inertia"))
      val norms = cent.groupBy(col("k"))
        .agg(round(sqrt(sum(col("cv") * col("cv")).cast("double")), 6)
          .as("centroid_norm"))
      sizes.join(norms, Seq("k"))
        .select(col("k").as("cluster"), col("n_vecs"), col("inertia"),
          col("centroid_norm"))
        .orderBy(col("cluster"))
    }))

  /** Lloyd rounds for vec_kmeans / vec_spherical_kmeans / vec_cluster_nmi
    * — bounded-round semantics like pagerank's 5 and kcore's 6 peels (more
    * Lloyd rounds = a different clustering); the DuckDB twins unroll the
    * same rounds CTE for CTE. */
  private[graft] val KmeansRounds = 3

  /** The bounded-Lloyd result (final assignment + final centroids) as a
    * pinned artifact shared by vec_kmeans and vec_cluster_nmi — both
    * consumed the same loop, each paying the 3-round build per query
    * (~2.5 s in-sweep each at sf0.1); it builds once per dir and both
    * read the pinned frames. */
  private val kmeansCache =
    ArtifactCache.frames[(Pinned, Pinned)]("kmeans assignment")(kmeansAssignCent(_, _))

  private def kmeansAssignCent(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (a, c) = kmeansCache.getOrElseUpdate(dir, {
      val (assign, cent) = buildKmeans(s, dir)
      (Pinned(assign), Pinned(cent))
    })
    (a.on(s), c.on(s))
  }

  /** The spherical bounded-Lloyd assignment, pinned like [[kmeansCache]]:
    * the 3-round unit-sphere loop was the second-highest in-sweep cost
    * (2.8 s isolated at sf0.1), rebuilt on every vec_spherical_kmeans
    * call; now it builds once per dir in warmup and the query
    * folds the pinned (vec_id, k, dot) rows. */
  private val sphCache =
    ArtifactCache.frames[Pinned]("spherical kmeans assignment")(sphericalAssign(_, _))

  private def sphericalAssign(s: SparkSession, dir: String): DataFrame =
    sphCache.getOrElseUpdate(dir, Pinned(buildSpherical(s, dir))).on(s)

  /** The unit-sphere Lloyd loop (final (vec_id, k, dot) assignment):
    * exact-decimal dot products, argMAX under a (dot desc, k) total
    * order, re-normalized centroid means, per-round RoundPin cuts —
    * the DuckDB twin unrolls the same sphRoundSql CTEs. */
  private def buildSpherical(s: SparkSession, dir: String): DataFrame = {
    val d6 = DecimalType(18, 6)
    val r6d = (c: Column) => round(c.cast("double"), 6).cast(d6)
    val raw = persistSharedPerDir("vec_pca_base", dir,
      embStore(s, dir).select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "fv")))
        .select(col("vec_id"), col("pos"), r6d(col("fv")).as("xv")))
    val norms = raw.groupBy(col("vec_id"))
      .agg(sqrt(sum(col("xv") * col("xv")).cast("double")).as("nrm"))
    val base = persistShared("sph_base", raw.join(norms, "vec_id")
      .select(col("vec_id"), col("pos"),
        r6d(col("xv").cast("double") / col("nrm")).as("xv")))
    var cent = base.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("k"), col("pos"), col("xv").as("cv"))
    var assign: DataFrame = null
    for (_ <- 1 to KmeansRounds) {
      val dots = base.join(broadcast(cent), "pos")
        .groupBy(col("vec_id"), col("k"))
        .agg(sum(col("xv") * col("cv")).as("dot"))
      val wA = Window.partitionBy(col("vec_id"))
        .orderBy(col("dot").desc, col("k"))
      assign = dots.withColumn("rn", row_number().over(wA))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("k"), col("dot"))
        .transform(RoundPin.pin)
      val mean = base.join(assign.select(col("vec_id"), col("k")), "vec_id")
        .groupBy(col("k"), col("pos"))
        .agg(round(sum(col("xv")).cast("double") / count(lit(1)), 6)
          .cast(d6).as("mv"))
      val cn = mean.groupBy(col("k"))
        .agg(sqrt(sum(col("mv") * col("mv")).cast("double")).as("cn"))
      cent = mean.join(cn, "k")
        .select(col("k"), col("pos"),
          r6d(col("mv").cast("double") / col("cn")).as("cv"))
        .transform(RoundPin.pin)
    }
    assign
  }

  /** The bounded-Lloyd loop (final assignment + final centroids) shared
    * by vec_kmeans and vec_cluster_nmi — one implementation, so both
    * consumers' DuckDB twins unroll the SAME kmeansRoundSql CTEs and a
    * clustering change can never skew one without the other. Decimal-
    * exact distances, argmin under a (d2, k) total order, re-gridded
    * centroid means, per-round RoundPin lineage cuts. */
  private def buildKmeans(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d6 = DecimalType(18, 6)
    val r6d = (c: Column) => round(c.cast("double"), 6).cast(d6)
    val base = persistSharedPerDir("vec_pca_base", dir,
      embStore(s, dir).select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "fv")))
        .select(col("vec_id"), col("pos"), r6d(col("fv")).as("xv")))
    val d12 = DecimalType(12, 6)
    var cent = base.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("k"), col("pos"), col("xv").as("cv"))
    var assign: DataFrame = null
    for (_ <- 1 to KmeansRounds) {
      val diff = (col("xv") - col("cv")).cast(d12)
      val d2 = base.join(broadcast(cent), "pos")
        .groupBy(col("vec_id"), col("k"))
        .agg(sum(diff * diff).as("d2"))
      val wA = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("k"))
      assign = d2.withColumn("rn", row_number().over(wA))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("k"), col("d2"))
        .transform(RoundPin.pin) // feeds the centroid agg AND the final stats
      cent = base.join(assign.select(col("vec_id"), col("k")), "vec_id")
        .groupBy(col("k"), col("pos"))
        .agg(round(sum(col("xv")).cast("double") / count(lit(1)), 6)
          .cast(d6).as("cv"))
        .transform(RoundPin.pin) // k×64 rows; cuts the per-round lineage
    }
    (assign, cent)
  }

  /** Picks for vec_mmr's unrolled greedy selection (first pick = plain
    * argmax sim; each later pick one MMR argmax step). */
  private[graft] val MmrPicks = 5

  /** One unrolled MMR selection step k ≥ 2 (inputs cands/pair/sel{k-1}):
    * the same λ-blend and (score desc, id) argmax as the Spark loop. */
  private def mmrStepSql(k: Int): String =
    s"""s$k AS (
          SELECT c.vec_id, $k AS rank,
                 round(0.7 * c.sim - 0.3 * m.mx, 6) AS score
          FROM cands c
          JOIN (SELECT va, max(psim) AS mx FROM pair
                WHERE vb IN (SELECT vec_id FROM sel${k - 1}) GROUP BY va) m
            ON c.vec_id = m.va
          WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
          ORDER BY score DESC, c.vec_id LIMIT 1),
        sel$k AS (SELECT vec_id, rank, score FROM sel${k - 1}
                  UNION ALL SELECT vec_id, rank, score FROM s$k)"""

  /** One unrolled Lloyd round k (inputs x and c{k-1}): decimal-exact
    * assignment distances, argmin window, re-gridded centroid means —
    * the same algebra as the Spark loop body. */
  private def kmeansRoundSql(k: Int): String =
    s"""d$k AS (
          SELECT x.vec_id, c.k,
                 sum(CAST(xv - cv AS DECIMAL(12,6)) * CAST(xv - cv AS DECIMAL(12,6))) AS d2
          FROM x JOIN c${k - 1} c USING (pos) GROUP BY 1, 2),
        a$k AS (
          SELECT vec_id, k, d2 FROM (
            SELECT vec_id, k, d2,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
            FROM d$k) WHERE rn = 1),
        c$k AS (
          SELECT a.k, x.pos,
                 CAST(round(CAST(sum(xv) AS DOUBLE) / count(1), 6)
                   AS DECIMAL(18,6)) AS cv
          FROM x JOIN a$k a USING (vec_id) GROUP BY 1, 2)"""

  /** One unrolled SPHERICAL Lloyd round k (inputs xs and sc{k-1}):
    * exact-decimal dot products, argMAX window (ties → min k), mean
    * re-projected onto the unit sphere — the same algebra as the Spark
    * loop body. */
  private def sphRoundSql(k: Int): String =
    s"""sd$k AS (
          SELECT xs.vec_id, c.k, sum(xv * cv) AS dot
          FROM xs JOIN sc${k - 1} c USING (pos) GROUP BY 1, 2),
        sa$k AS (
          SELECT vec_id, k, dot FROM (
            SELECT vec_id, k, dot,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, k) AS rn
            FROM sd$k) WHERE rn = 1),
        sm$k AS (
          SELECT a.k, xs.pos,
                 CAST(round(CAST(sum(xv) AS DOUBLE) / count(1), 6)
                   AS DECIMAL(18,6)) AS mv
          FROM xs JOIN sa$k a USING (vec_id) GROUP BY 1, 2),
        sn$k AS (
          SELECT k, sqrt(CAST(sum(mv * mv) AS DOUBLE)) AS cn
          FROM sm$k GROUP BY 1),
        sc$k AS (
          SELECT m.k, m.pos,
                 CAST(round(CAST(mv AS DOUBLE) / cn, 6) AS DECIMAL(18,6)) AS cv
          FROM sm$k m JOIN sn$k USING (k))"""

  /** One unrolled power-iteration round k (inputs x/sx/nrows/v{k-1}):
    * the SAME decimal-gridded algebra as the Spark plan, CTE for CTE. */
  private def pcaRoundSql(k: Int): String =
    s"""s$k AS (
          SELECT vec_id,
                 CAST(round(CAST(sum(xv * vv) AS DOUBLE), 6) AS DECIMAL(18,6)) AS s6
          FROM x JOIN v${k - 1} USING (pos) GROUP BY vec_id),
        a$k AS (
          SELECT pos,
                 CAST(round(CAST(sum(xv * s6) AS DOUBLE), 6) AS DECIMAL(18,6)) AS a6
          FROM x JOIN s$k USING (vec_id) GROUP BY pos),
        t$k AS (
          SELECT CAST(round(CAST(sum(sxv * vv) AS DOUBLE), 6) AS DECIMAL(18,6)) AS stv6
          FROM sx JOIN v${k - 1} USING (pos)),
        w$k AS (
          SELECT pos,
                 CAST(round((CAST(nn AS DOUBLE) * CAST(a6 AS DOUBLE)
                   - CAST(sxv AS DOUBLE) * CAST(stv6 AS DOUBLE)) / 1000000.0, 6)
                   AS DECIMAL(18,6)) AS w6
          FROM a$k JOIN sx USING (pos) CROSS JOIN t$k CROSS JOIN nrows),
        n$k AS (SELECT sqrt(CAST(sum(w6 * w6) AS DOUBLE)) AS nrm FROM w$k),
        v$k AS (
          SELECT pos,
                 CAST(round(CAST(w6 AS DOUBLE) / nrm, 6) AS DECIMAL(18,6)) AS vv
          FROM w$k CROSS JOIN n$k)"""

  val oracles: Map[String, String] = oraclesBase + ("vec_ann_recall" ->
    s"""WITH truth AS (${oraclesBase("vec_knn_join")}),
        ann AS (${oraclesBase("vec_ivf_ann")})
        SELECT t.probe_id, count(1) AS k, count(a.neighbor_id) AS n_hit,
               round(count(a.neighbor_id) / count(1), 6) AS recall
        FROM truth t LEFT JOIN ann a
          ON t.probe_id = a.probe_id AND t.neighbor_id = a.neighbor_id
        GROUP BY t.probe_id ORDER BY t.probe_id""") +
    ("eval_rbo" ->
      s"""WITH a AS (${oraclesBase("vec_knn_join")}),
          b AS (${oraclesBase("vec_ivf_ann")})
          SELECT a.probe_id, count(b.neighbor_id) AS n_common,
                 CAST(coalesce(sum(CASE WHEN b.neighbor_id IS NOT NULL
                   THEN CASE
                     WHEN greatest(a.rn, b.rn) = 1 THEN 0.172
                     WHEN greatest(a.rn, b.rn) = 2 THEN 0.072
                     WHEN greatest(a.rn, b.rn) = 3 THEN 0.027 END END), 0)
                   AS DOUBLE) AS rbo
          FROM a LEFT JOIN b
            ON a.probe_id = b.probe_id AND a.neighbor_id = b.neighbor_id
          GROUP BY a.probe_id ORDER BY a.probe_id""") +
    ("vec_pca_power" ->
      s"""WITH x AS MATERIALIZED (
            SELECT vec_id, CAST(u.p AS INTEGER) AS pos,
                   CAST(round(CAST(u.v AS DOUBLE), 6) AS DECIMAL(18,6)) AS xv
            FROM (SELECT vec_id, unnest(range(0, len(embedding))) AS p,
                         unnest(embedding) AS v
                  FROM embeddings) u),
          nrows AS (SELECT count(1) AS nn FROM embeddings),
          sx AS MATERIALIZED (
            SELECT pos, CAST(sum(xv) AS DECIMAL(18,6)) AS sxv FROM x GROUP BY 1),
          v0 AS (SELECT pos, CAST(1 AS DECIMAL(18,6)) AS vv FROM sx),
          ${(1 to 3).map(pcaRoundSql).mkString(",\n")},
          sgn AS (
            SELECT CASE WHEN vv < 0 THEN -1 ELSE 1 END AS sg
            FROM v3 ORDER BY abs(vv) DESC, pos LIMIT 1)
          SELECT pos, round(CAST(vv * sg AS DOUBLE), 6) AS loading
          FROM v3 CROSS JOIN sgn ORDER BY pos""") +
    ("vec_kmeans" ->
      s"""WITH x AS MATERIALIZED (
            SELECT vec_id, CAST(u.p AS INTEGER) AS pos,
                   CAST(round(CAST(u.v AS DOUBLE), 6) AS DECIMAL(18,6)) AS xv
            FROM (SELECT vec_id, unnest(range(0, len(embedding))) AS p,
                         unnest(embedding) AS v
                  FROM embeddings) u),
          c0 AS (
            SELECT CAST(vec_id AS INT) AS k, pos, xv AS cv FROM x WHERE vec_id < 8),
          ${(1 to KmeansRounds).map(kmeansRoundSql).mkString(",\n")},
          sizes AS (
            SELECT k, count(1) AS n_vecs,
                   round(CAST(sum(d2) AS DOUBLE), 6) AS inertia
            FROM a$KmeansRounds GROUP BY 1),
          norms AS (
            SELECT k, round(sqrt(CAST(sum(cv * cv) AS DOUBLE)), 6) AS centroid_norm
            FROM c$KmeansRounds GROUP BY 1)
          SELECT s.k AS cluster, s.n_vecs, s.inertia, n.centroid_norm
          FROM sizes s JOIN norms n USING (k) ORDER BY cluster""") +
    ("vec_cluster_nmi" ->
      s"""WITH x AS MATERIALIZED (
            SELECT vec_id, CAST(u.p AS INTEGER) AS pos,
                   CAST(round(CAST(u.v AS DOUBLE), 6) AS DECIMAL(18,6)) AS xv
            FROM (SELECT vec_id, unnest(range(0, len(embedding))) AS p,
                         unnest(embedding) AS v
                  FROM embeddings) u),
          c0 AS (
            SELECT CAST(vec_id AS INT) AS k, pos, xv AS cv FROM x WHERE vec_id < 8),
          ${(1 to KmeansRounds).map(kmeansRoundSql).mkString(",\n")},
          ct AS (
            SELECT a.k, e.label, count(1) AS nkl
            FROM a$KmeansRounds a JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
          ak AS (SELECT k, CAST(sum(nkl) AS BIGINT) AS ak FROM ct GROUP BY 1),
          bl AS (SELECT label, CAST(sum(nkl) AS BIGINT) AS bl FROM ct GROUP BY 1),
          nt AS (SELECT CAST(sum(nkl) AS BIGINT) AS n FROM ct),
          a0 AS (
            SELECT max(n) AS n_vecs,
                   count(DISTINCT k) AS n_clusters,
                   count(DISTINCT label) AS n_labels,
                   CAST(sum(CAST(round((CAST(nkl AS DOUBLE) / n)
                     * ln(CAST(nkl AS DOUBLE) * n / (CAST(ak AS DOUBLE) * bl)), 6)
                   AS DECIMAL(18,6))) AS DOUBLE) AS mi,
                   CAST(sum(CAST(round(-(CAST(nkl AS DOUBLE) / n)
                     * ln(CAST(ak AS DOUBLE) / n), 6) AS DECIMAL(18,6))) AS DOUBLE)
                   AS h_cluster,
                   CAST(sum(CAST(round(-(CAST(nkl AS DOUBLE) / n)
                     * ln(CAST(bl AS DOUBLE) / n), 6) AS DECIMAL(18,6))) AS DOUBLE)
                   AS h_label
            FROM ct JOIN ak USING (k) JOIN bl USING (label) CROSS JOIN nt)
          SELECT n_vecs, n_clusters, n_labels,
                 round(mi, 6) AS mi,
                 round(h_cluster, 6) AS h_cluster,
                 round(h_label, 6) AS h_label,
                 round(mi / sqrt(h_cluster * h_label), 6) AS nmi
          FROM a0""") +
    ("vec_spherical_kmeans" ->
      s"""WITH x AS MATERIALIZED (
            SELECT vec_id, CAST(u.p AS INTEGER) AS pos,
                   CAST(round(CAST(u.v AS DOUBLE), 6) AS DECIMAL(18,6)) AS xv
            FROM (SELECT vec_id, unnest(range(0, len(embedding))) AS p,
                         unnest(embedding) AS v
                  FROM embeddings) u),
          nrm AS (
            SELECT vec_id, sqrt(CAST(sum(xv * xv) AS DOUBLE)) AS nrm
            FROM x GROUP BY 1),
          xs AS MATERIALIZED (
            SELECT x.vec_id, x.pos,
                   CAST(round(CAST(xv AS DOUBLE) / nrm, 6) AS DECIMAL(18,6)) AS xv
            FROM x JOIN nrm USING (vec_id)),
          sc0 AS (
            SELECT CAST(vec_id AS INT) AS k, pos, xv AS cv FROM xs WHERE vec_id < 8),
          ${(1 to KmeansRounds).map(sphRoundSql).mkString(",\n")}
          SELECT k AS cluster, count(1) AS n_vecs,
                 round(CAST(sum(dot) AS DOUBLE) / count(1), 6) AS cohesion
          FROM sa$KmeansRounds GROUP BY 1 ORDER BY cluster""") +
    ("vec_mmr" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
          cands AS MATERIALIZED (
            SELECT e.vec_id, e.embedding, round($sqlCosDuck, 6) AS sim
            FROM embeddings e, q WHERE e.vec_id <> 0
            ORDER BY sim DESC, e.vec_id LIMIT 20),
          pair AS MATERIALIZED (
            SELECT a.vec_id AS va, b.vec_id AS vb,
                   round(${cosSql("a.embedding", "b.embedding")}, 6) AS psim
            FROM cands a JOIN cands b ON a.vec_id <> b.vec_id),
          sel1 AS (
            SELECT vec_id, 1 AS rank, sim AS score FROM cands
            ORDER BY sim DESC, vec_id LIMIT 1),
          ${(2 to MmrPicks).map(mmrStepSql).mkString(",\n")}
          SELECT rank, vec_id, score FROM sel$MmrPicks ORDER BY rank""") +
    ("vec_drift" ->
      s"""WITH x AS MATERIALIZED (
            SELECT vec_id, CAST(u.p AS INTEGER) AS pos,
                   CAST(round(CAST(u.v AS DOUBLE), 6) AS DECIMAL(18,6)) AS xv
            FROM (SELECT vec_id, unnest(range(0, len(embedding))) AS p,
                         unnest(embedding) AS v
                  FROM embeddings) u),
          cent AS (
            SELECT CAST(vec_id % 2 AS INT) AS half, pos,
                   CAST(round(CAST(sum(xv) AS DOUBLE) / count(1), 6)
                     AS DECIMAL(18,6)) AS cv,
                   count(1) AS n
            FROM x GROUP BY 1, 2),
          wide AS (
            SELECT pos,
                   max(CASE WHEN half = 0 THEN cv END) AS ca,
                   max(CASE WHEN half = 1 THEN cv END) AS cb,
                   max(CASE WHEN half = 0 THEN n END) AS na,
                   max(CASE WHEN half = 1 THEN n END) AS nb
            FROM cent GROUP BY 1),
          m AS (
            SELECT max(na) AS n_a, max(nb) AS n_b,
                   sum((ca - cb) * (ca - cb)) AS dd
            FROM wide),
          ref AS (
            SELECT round(CAST(sum(CAST(round(sqrt(CAST(ss AS DOUBLE)), 6)
                     AS DECIMAL(18,6))) AS DOUBLE) / count(1), 6) AS mean_norm
            FROM (SELECT vec_id, sum(xv * xv) AS ss FROM x GROUP BY 1))
          SELECT n_a, n_b,
                 round(sqrt(CAST(dd AS DOUBLE)), 6) AS centroid_dist,
                 mean_norm,
                 round(sqrt(CAST(dd AS DOUBLE)) / mean_norm, 6) AS drift_ratio
          FROM m CROSS JOIN ref""") +
    ("vec_space_health" ->
      s"""WITH x AS MATERIALIZED (
            SELECT vec_id, CAST(u.p AS INTEGER) AS pos,
                   CAST(round(CAST(u.v AS DOUBLE), 6) AS DECIMAL(18,6)) AS xv
            FROM (SELECT vec_id, unnest(range(0, len(embedding))) AS p,
                         unnest(embedding) AS v
                  FROM embeddings) u),
          norms0 AS (SELECT vec_id, sum(xv * xv) AS ss FROM x GROUP BY 1),
          norms AS (
            SELECT count(1) AS n_vecs,
                   round(CAST(sum(CAST(round(sqrt(CAST(ss AS DOUBLE)), 6)
                     AS DECIMAL(18,6))) AS DOUBLE) / count(1), 6) AS mean_norm,
                   round(min(sqrt(CAST(ss AS DOUBLE))), 6) AS min_norm,
                   round(max(sqrt(CAST(ss AS DOUBLE))), 6) AS max_norm
            FROM norms0),
          dims AS (
            SELECT pos, sum(xv) AS sx, sum(xv * xv) AS sxx, count(1) AS n
            FROM x GROUP BY 1),
          pr AS (
            SELECT count(1) AS dim,
                   round(CAST(sum(v) AS DOUBLE) * CAST(sum(v) AS DOUBLE)
                         / CAST(sum(v2) AS DOUBLE), 6) AS effective_dim
            FROM (
              SELECT CAST(round((CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n, 9)
                     AS DECIMAL(18,9)) AS v,
                     CAST(round(((CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n)
                       * ((CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n), 12)
                     AS DECIMAL(18,12)) AS v2
              FROM dims))
          SELECT n_vecs, dim, mean_norm, min_norm, max_norm, effective_dim,
                 round(effective_dim / dim, 6) AS dim_utilization
          FROM norms CROSS JOIN pr""") +
    ("vec_rrf_fusion" ->
      s"""WITH ivf_all AS (${oraclesBase("vec_ivf_ann")}),
          ivf AS (SELECT neighbor_id, rn AS r_ivf FROM ivf_all WHERE probe_id = 0),
          ham_all AS (${oraclesBase("vec_binary_hamming_topk")}),
          ham AS (SELECT vec_id AS neighbor_id,
                         row_number() OVER (ORDER BY sim DESC, vec_id) AS r_ham
                  FROM ham_all),
          j AS (
            SELECT coalesce(i.neighbor_id, h.neighbor_id) AS neighbor_id,
                   i.r_ivf, h.r_ham
            FROM ivf i FULL OUTER JOIN ham h ON i.neighbor_id = h.neighbor_id)
          SELECT neighbor_id,
                 round(CAST(
                   CAST(CASE WHEN r_ivf IS NOT NULL
                        THEN round(CAST(1.0 AS DOUBLE) / (60 + r_ivf), 9) ELSE 0.0 END
                     AS DECIMAL(18,9)) +
                   CAST(CASE WHEN r_ham IS NOT NULL
                        THEN round(CAST(1.0 AS DOUBLE) / (60 + r_ham), 9) ELSE 0.0 END
                     AS DECIMAL(18,9)) AS DOUBLE), 6) AS rrf,
                 coalesce(r_ivf, 0) AS rank_ivf,
                 coalesce(r_ham, 0) AS rank_hamming
          FROM j ORDER BY rrf DESC, neighbor_id""")

  private lazy val oraclesBase: Map[String, String] = Map(
    "vec_dim_variance" ->
      """WITH ex AS (
           SELECT CAST(u.p AS INTEGER) AS pos,
                  CAST(round(CAST(u.v AS DOUBLE) * 1000000) AS BIGINT) AS v6
           FROM (SELECT unnest(range(0, len(embedding))) AS p,
                        unnest(embedding) AS v
                 FROM embeddings) u),
         m AS (
           SELECT pos, count(1) AS n,
                  sum(CAST(v6 AS HUGEINT)) AS s6,
                  sum(CAST(v6 AS HUGEINT) * CAST(v6 AS HUGEINT)) AS q6
           FROM ex GROUP BY pos),
         r AS (
           SELECT pos, n, s6, q6 * n - s6 * s6 AS tv,
                  row_number() OVER (ORDER BY q6 * n - s6 * s6 DESC, pos) AS rk
           FROM m)
         SELECT pos, CAST(n AS BIGINT) AS n,
                round(CAST(s6 AS DOUBLE) / n / 1000000.0, 6) AS mean,
                round(CAST(tv AS DOUBLE) / (n * (n - 1))
                      / 1000000000000.0, 6) AS variance,
                rk <= 8 AS is_top
         FROM r ORDER BY pos""",
    "vec_binary_hamming_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
          b AS (
            SELECT e.vec_id, e.embedding,
                   CAST(len(list_filter(range(1, 65),
                     i -> (e.embedding[i] > 0) != (q.qv[i] > 0))) AS INT) AS ham
            FROM embeddings e, q WHERE e.vec_id <> 0),
          cand AS (SELECT vec_id, embedding, ham FROM b ORDER BY ham, vec_id LIMIT 40)
          SELECT e.vec_id, e.ham, round($sqlCosDuck, 6) AS sim
          FROM cand e, q
          ORDER BY sim DESC, e.vec_id LIMIT 10""",
    "vec_cosine_topk" ->
      s"""SELECT e.vec_id, round($sqlCosDuck, 6) AS sim
         FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         WHERE e.vec_id <> 0
         ORDER BY sim DESC, e.vec_id LIMIT 10""",
    "vec_filtered_search" ->
      s"""WITH scored AS (
           SELECT e.vec_id, e.label, round($sqlCosDuck, 6) AS sim
           FROM embeddings e,
                (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
           WHERE e.vec_id <> 0),
         pre AS (
           SELECT vec_id, sim FROM scored WHERE label = 1
           ORDER BY sim DESC, vec_id LIMIT 10),
         post AS (
           SELECT vec_id AS pid FROM (
             SELECT vec_id, label FROM scored
             ORDER BY sim DESC, vec_id LIMIT 30)
           WHERE label = 1)
         SELECT pre.vec_id, pre.sim,
                CAST(CASE WHEN pid IS NOT NULL THEN 1 ELSE 0 END AS INT)
                  AS in_postfilter
         FROM pre LEFT JOIN post ON pre.vec_id = post.pid
         ORDER BY sim DESC, vec_id""",
    "vec_matryoshka_topk" ->
      s"""SELECT vec_id, sim16, sim_full FROM (
           SELECT e.vec_id,
             round(${cosSqlPrefix("e.embedding", "q.qv", 16)}, 6) AS sim16,
             round($sqlCosDuck, 6) AS sim_full
           FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
           WHERE e.vec_id <> 0)
         ORDER BY sim16 DESC, vec_id LIMIT 10""",
    "vec_quantize_error" ->
      """WITH ex AS (
           SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         st AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM ex GROUP BY 1),
         e AS (
           SELECT ex.pos, v, mn, mx,
                  CAST(round((v - mn) * 255.0 / nullif(mx - mn, 0.0), 0) AS INT)
                    AS q
           FROM ex JOIN st ON ex.pos = st.pos),
         r AS (SELECT pos, v, mn, mx, mn + q * (mx - mn) / 255.0 AS recon FROM e),
         g AS (
           SELECT pos, mn, mx,
                  coalesce(CAST(round(abs(v - recon) * 1000000, 0) AS BIGINT), 0)
                    AS err6
           FROM r)
         SELECT pos, count(1) AS n,
                round(min(mn), 6) AS lo, round(max(mx), 6) AS hi,
                round(CAST(sum(err6) AS DOUBLE) / (count(1) * 1000000.0), 6)
                  AS mean_abs_err,
                round(CAST(max(err6) AS DOUBLE) / 1000000.0, 6) AS max_abs_err
         FROM g GROUP BY 1 ORDER BY pos""",
    "vec_sq_topk" ->
      s"""WITH qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         base AS (
           SELECT e.vec_id, e.embedding, q.qe,
             list_aggregate(list_transform(e.embedding, x -> abs(x::DOUBLE)), 'max') AS s_e,
             list_aggregate(list_transform(q.qe, x -> abs(x::DOUBLE)), 'max') AS s_q
           FROM embeddings e, qv q WHERE e.vec_id <> 0),
         dq AS (
           SELECT vec_id, embedding, qe,
             list_transform(embedding, x -> CAST(round(x::DOUBLE * 127.0 / s_e, 0) AS INTEGER) * s_e / 127.0) AS dqe,
             list_transform(qe, x -> CAST(round(x::DOUBLE * 127.0 / s_q, 0) AS INTEGER) * s_q / 127.0) AS dqq
           FROM base)
         SELECT vec_id,
           round(${cosSql("dqe", "dqq")}, 6) AS sim_sq,
           round(${cosSql("embedding", "qe")}, 6) AS sim_full
         FROM dq ORDER BY sim_sq DESC, vec_id LIMIT 10""",
    "vec_source_drift" ->
      """WITH ex AS MATERIALIZED (
           SELECT d.source, e.vec_id,
                  unnest(range(0, len(e.embedding))) AS pos,
                  CAST(unnest(e.embedding) AS DOUBLE) AS v
           FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         bysrc AS (
           SELECT source, pos, list(v ORDER BY vec_id) AS vs
           FROM ex GROUP BY 1, 2),
         c1 AS (SELECT source, pos,
                       list_reduce(vs, (acc, x) -> acc + x) / len(vs) AS c
                FROM bysrc),
         gl AS (SELECT pos, list(v ORDER BY vec_id) AS vs FROM ex GROUP BY 1),
         g1 AS (SELECT pos,
                       list_reduce(vs, (acc, x) -> acc + x) / len(vs) AS g
                FROM gl),
         terms AS (
           SELECT c1.source,
                  CAST(round(c * g, 12) AS DECIMAL(18,12)) AS dg,
                  CAST(round(c * c, 12) AS DECIMAL(18,12)) AS cc,
                  CAST(round(g * g, 12) AS DECIMAL(18,12)) AS gg
           FROM c1 JOIN g1 USING (pos))
         SELECT source,
                round(CAST(sum(dg) AS DOUBLE) /
                  (sqrt(CAST(sum(cc) AS DOUBLE)) * sqrt(CAST(sum(gg) AS DOUBLE))), 6)
                  AS centroid_cos
         FROM terms GROUP BY 1 ORDER BY centroid_cos, source""",
    "vec_mmr_rerank" -> {
      def prevSel(k: Int): String =
        (1 until k).map(i => s"SELECT vec_id FROM s$i").mkString(" UNION ALL ")
      def step(k: Int): String =
        s"""s$k AS (
           SELECT c.vec_id, c.rel,
                  round(0.7 * c.rel - 0.3 * max(pr.sim), 6) AS mmr
           FROM cand c JOIN pr ON pr.ca = c.vec_id AND pr.cb IN (${prevSel(k)})
           WHERE c.vec_id NOT IN (${prevSel(k)})
           GROUP BY c.vec_id, c.rel
           ORDER BY mmr DESC, c.vec_id LIMIT 1)"""
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         cand AS (
           SELECT e.vec_id, e.embedding, round($sqlCosDuck, 6) AS rel
           FROM embeddings e CROSS JOIN q
           WHERE e.vec_id <> 0
           ORDER BY rel DESC, e.vec_id LIMIT 20),
         pr AS (
           SELECT a.vec_id AS ca, b.vec_id AS cb,
                  round(${cosSql("a.embedding", "b.embedding")}, 6) AS sim
           FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
         s1 AS (SELECT vec_id, rel, round(0.7 * rel, 6) AS mmr
                FROM cand ORDER BY mmr DESC, vec_id LIMIT 1),
         ${(2 to 5).map(step).mkString(",\n")}
         SELECT * FROM (
           ${(1 to 5).map(i => s"SELECT $i AS rk, vec_id, rel, mmr FROM s$i")
              .mkString(" UNION ALL ")})
         ORDER BY rk"""
    },
    "vec_mips_topk" ->
      s"""SELECT probe_id, vec_id AS item_id, ip, rn FROM (
           SELECT q.probe_id, e.vec_id,
             round(list_aggregate(list_transform(range(1, 65), i ->
               e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE), 'sum'), 6) AS ip,
             row_number() OVER (PARTITION BY q.probe_id
               ORDER BY round(list_aggregate(list_transform(range(1, 65), i ->
                 e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE), 'sum'), 6) DESC,
                 e.vec_id) AS rn
           FROM embeddings e,
                (SELECT vec_id AS probe_id, embedding AS qv FROM embeddings WHERE vec_id < 4) q
           WHERE e.vec_id <> q.probe_id)
         WHERE rn <= 5 ORDER BY probe_id, rn""",
    "vec_knn_join" ->
      s"""SELECT probe_id, vec_id AS neighbor_id, sim, rn FROM (
           SELECT q.probe_id, e.vec_id, round($sqlCosDuck, 6) AS sim,
             row_number() OVER (PARTITION BY q.probe_id
               ORDER BY round($sqlCosDuck, 6) DESC, e.vec_id) AS rn
           FROM embeddings e,
                (SELECT vec_id AS probe_id, embedding AS qv FROM embeddings WHERE vec_id < 8) q
           WHERE e.vec_id <> q.probe_id)
         WHERE rn <= 3 ORDER BY probe_id, rn""",
    "dedup_embed_cosine" ->
      s"""SELECT e.vec_id AS v1, q.vid2 AS v2, round($sqlCosDuck, 6) AS sim
         FROM (SELECT * FROM embeddings WHERE vec_id < 256) e,
              (SELECT vec_id AS vid2, embedding AS qv FROM embeddings WHERE vec_id < 256) q
         WHERE e.vec_id < q.vid2 AND round($sqlCosDuck, 6) >= 0.3
         ORDER BY v1, v2""",
    "expr_custom" ->
      s"""SELECT e.vec_id, round($sqlCosDuck, 6) AS sim
         FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         WHERE e.vec_id <> 0
         ORDER BY sim DESC, e.vec_id LIMIT 20""",
    // same plane formula as the Scala side: plane(j,i) =
    // (((j·1315423911 + i·2654435761) mod 2001 + 2001) mod 2001 − 1000)/1000
    // — sequential left-fold dot products match Spark's aggregate() bit
    // for bit (same IEEE ops in the same order, as with the cosine HOF).
    "vec_lsh_ann" ->
      s"""WITH $lshBucketsSql
         SELECT probe_id, vec_id AS neighbor_id, sim, rn FROM (
           SELECT q.probe_id, e.vec_id, round($sqlCosDuck, 6) AS sim,
             row_number() OVER (PARTITION BY q.probe_id
               ORDER BY round($sqlCosDuck, 6) DESC, e.vec_id) AS rn
           FROM b e JOIN (SELECT vec_id AS probe_id, embedding AS qv, bucket
                          FROM b WHERE vec_id < 8) q
             ON e.bucket = q.bucket AND e.vec_id <> q.probe_id)
         WHERE rn <= 3 ORDER BY probe_id, rn""",
    // exact tier + the lsh_ann candidate tier composed per k — the
    // engine grades its own index, hash-compared (vec_ann_recall's
    // precedent, widened to the k curve)
    "vec_recall_curve" ->
      s"""WITH $lshBucketsSql,
         probes AS (
           SELECT vec_id AS probe_id, embedding AS qv, bucket AS pb
           FROM b WHERE vec_id < 8),
         exact AS (
           SELECT probe_id, vec_id, rk_e FROM (
             SELECT p.probe_id, e.vec_id,
               row_number() OVER (PARTITION BY p.probe_id
                 ORDER BY round(${cosSql("e.embedding", "p.qv")}, 6) DESC, e.vec_id) AS rk_e
             FROM embeddings e CROSS JOIN probes p
             WHERE e.vec_id <> p.probe_id)
           WHERE rk_e <= 5),
         lsh AS (
           SELECT probe_id, vec_id, rk_l FROM (
             SELECT p.probe_id, e.vec_id,
               row_number() OVER (PARTITION BY p.probe_id
                 ORDER BY round(${cosSql("e.embedding", "p.qv")}, 6) DESC, e.vec_id) AS rk_l
             FROM b e JOIN probes p ON e.bucket = p.pb AND e.vec_id <> p.probe_id)
           WHERE rk_l <= 5),
         j AS (
           SELECT x.probe_id, x.vec_id, x.rk_e, l.rk_l
           FROM exact x LEFT JOIN lsh l USING (probe_id, vec_id)),
         kk AS (SELECT unnest([1, 3, 5]) AS k)
         SELECT k, CAST(count(CASE WHEN rk_e <= k THEN 1 END) AS BIGINT) AS n_truth,
                CAST(count(CASE WHEN rk_e <= k AND rk_l <= k THEN 1 END) AS BIGINT) AS n_hit,
                round(CAST(count(CASE WHEN rk_e <= k AND rk_l <= k THEN 1 END) AS DOUBLE)
                      / count(CASE WHEN rk_e <= k THEN 1 END), 6) AS recall
         FROM kk CROSS JOIN j GROUP BY k ORDER BY k""",
    // the standing-index twin of the lsh_ann oracle: the plane count
    // derives from the RESIDENT count (vec_id % 16 <> 7) — bucketing
    // everything with those planes and filtering afterwards is
    // equivalent to the Scala side's probe-the-frozen-index shape.
    "vec_index_incremental" ->
      s"""WITH np AS (
           SELECT coalesce(min(p), 30) AS planes FROM range(8, 31) tp(p)
           WHERE ($LshTargetOccupancy::BIGINT << p)
                 >= (SELECT count(*) FROM embeddings WHERE vec_id % 16 <> 7)),
         b AS (
           SELECT vec_id, embedding,
             CAST(sum(CASE WHEN d > 0 THEN (1::BIGINT << j) ELSE 0 END) AS INTEGER) AS bucket
           FROM (
             SELECT e0.vec_id, e0.embedding, p.j,
               list_aggregate(list_transform(range(1, 65), i ->
                 e0.embedding[i]::DOUBLE *
                 ((((p.j * 1315423911 + (i - 1) * 2654435761) % 2001 + 2001) % 2001 - 1000) / 1000.0)),
                 'sum') AS d
             FROM embeddings e0
             CROSS JOIN (SELECT unnest(range(0, (SELECT planes FROM np))) AS j) p)
           GROUP BY vec_id, embedding)
         SELECT vec_id, CAST(rk AS INTEGER) AS rk, nbr_id, sim FROM (
           SELECT q.vec_id, r.vec_id AS nbr_id,
                  round(${cosSql("q.embedding", "r.embedding")}, 6) AS sim,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY round(${cosSql("q.embedding", "r.embedding")}, 6) DESC, r.vec_id) AS rk
           FROM b q JOIN b r ON q.bucket = r.bucket
           WHERE q.vec_id % 16 = 7 AND r.vec_id % 16 <> 7)
         WHERE rk <= 3 ORDER BY vec_id, rk""",
    // same plane formula → same buckets; the bucket-restricted pair set
    // and the cosine floor are both reproduced, so the ANN recall trade
    // itself is what the hash compare pins.
    "vec_range_search" ->
      s"""WITH $lshRangePairsSql
         SELECT d1 AS v1, d2 AS v2, sim FROM rpairs ORDER BY v1, v2""",
    "vec_dup_collapse" ->
      """SELECT vec_id,
                min(vec_id) OVER (PARTITION BY embedding) AS rep,
                count(*) OVER (PARTITION BY embedding) AS cluster_size
         FROM embeddings ORDER BY vec_id""",
    "vec_dedup_threshold_sweep" ->
      s"""WITH $lshRangePairsSql,
         th AS (SELECT unnest([CAST(0.80 AS DOUBLE), CAST(0.85 AS DOUBLE),
                               CAST(0.90 AS DOUBLE), CAST(0.95 AS DOUBLE)])
                  AS threshold),
         x AS (SELECT t.threshold, r.d2, r.sim FROM th t CROSS JOIN rpairs r)
         SELECT threshold,
                count(CASE WHEN sim >= threshold THEN 1 END) AS n_pairs,
                count(DISTINCT CASE WHEN sim >= threshold THEN d2 END)
                  AS n_docs_dropped
         FROM x GROUP BY 1 ORDER BY 1""",
    // the same deterministic construction the Spark side runs: LSH-seeded
    // init top-4, then ONE NN-Descent re-rank over N ∪ N∘N ∪ Nᵀ
    "vec_knn_graph" -> s"$knnGraphSql ORDER BY vec_id, rk",
    // k-occurrence (in-degree) fold of the SAME graph construction,
    // 0-filled over the id domain
    "vec_hubness" ->
      s"""WITH g AS ($knnGraphSql),
         occ AS (SELECT nbr_id AS vec_id, count(1) AS k_occ FROM g GROUP BY 1),
         a AS (SELECT e.vec_id, coalesce(o.k_occ, 0) AS k_occ
               FROM embeddings e LEFT JOIN occ o USING (vec_id))
         SELECT k_occ, count(1) AS n_vecs FROM a GROUP BY 1 ORDER BY 1""",
    // TwoNN replay: bounded exact pair join, gridded distances, same
    // d2/d1 log terms decimal-summed
    "vec_intrinsic_dim" ->
      s"""WITH base AS (
           SELECT vec_id, embedding FROM embeddings WHERE vec_id < 256),
         p AS (
           SELECT a.vec_id AS v, b.vec_id AS n,
                  CAST(round(1.0 - ${cosSql("a.embedding", "b.embedding")}, 6)
                    AS DECIMAL(18,6)) AS dist
           FROM base a JOIN base b ON a.vec_id <> b.vec_id),
         nn AS (
           SELECT v,
                  min(CASE WHEN rn = 1 THEN dist END) AS d1,
                  min(CASE WHEN rn = 2 THEN dist END) AS d2
           FROM (SELECT v, dist,
                   row_number() OVER (PARTITION BY v ORDER BY dist, n) AS rn
                 FROM p)
           WHERE rn <= 2 GROUP BY v),
         lm AS (
           SELECT CAST(round(ln(CAST(d2 AS DOUBLE) / CAST(d1 AS DOUBLE)), 6)
                    AS DECIMAL(18,6)) AS lnmu
           FROM nn WHERE d1 > 0)
         SELECT count(1) AS n_points,
                round(CAST(count(1) AS DOUBLE)
                      / CAST(sum(lnmu) AS DOUBLE), 6) AS id_hat
         FROM lm""",
    // same sequential centroid folds as vec_centroid_agg's oracle,
    // assembled to arrays, then the same gridded cosine-distance tree
    "vec_silhouette_centroid" ->
      """WITH ex AS (
           SELECT label, vec_id,
                  unnest(range(0, len(embedding))) AS pos,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         grp AS (
           SELECT label AS cl, pos, list(v ORDER BY vec_id) AS vs
           FROM ex GROUP BY 1, 2),
         c1 AS (SELECT cl, pos,
                       list_reduce(vs, (acc, x) -> acc + x) / len(vs) AS cv1
                FROM grp),
         cents AS (SELECT cl, list(cv1 ORDER BY pos) AS cv FROM c1 GROUP BY 1),
         d AS (
           SELECT e.vec_id, e.label, c.cl,
             CAST(round(1.0
               - list_aggregate(list_transform(range(1, 65),
                   i -> e.embedding[i]::DOUBLE * c.cv[i]), 'sum')
               / (sqrt(list_aggregate(list_transform(e.embedding,
                     x -> x::DOUBLE * x::DOUBLE), 'sum'))
                  * sqrt(list_aggregate(list_transform(c.cv, x -> x * x), 'sum'))), 6)
               AS DECIMAL(18,6)) AS dist
           FROM embeddings e CROSS JOIN cents c),
         ab AS (
           SELECT vec_id, label,
                  max(CASE WHEN cl = label THEN dist END) AS a,
                  min(CASE WHEN cl <> label THEN dist END) AS b
           FROM d GROUP BY 1, 2),
         sil AS (
           SELECT label,
                  CAST(round(CAST(b - a AS DOUBLE)
                    / CAST(greatest(a, b) AS DOUBLE), 6) AS DECIMAL(18,6)) AS s,
                  CASE WHEN b < a THEN 1 ELSE 0 END AS mis
           FROM ab)
         SELECT label, count(1) AS n_vecs,
                round(CAST(sum(s) AS DOUBLE) / count(1), 6) AS mean_silhouette,
                CAST(sum(mis) AS BIGINT) AS n_misassigned
         FROM sil GROUP BY 1 ORDER BY 1""",
    // the [0.3, 0.8) band of the SAME LSH candidate pairs, symmetrized,
    // top-2 hardest per anchor
    "vec_hard_negatives" ->
      s"""WITH $lshRangePairsSql,
         hard AS (SELECT v1, v2, sim FROM (
                    SELECT d1 AS v1, d2 AS v2, sim FROM rpairs)
                  WHERE sim < 0.8),
         sym AS (SELECT v1 AS anchor, v2 AS neg, sim FROM hard
                 UNION ALL SELECT v2, v1, sim FROM hard)
         SELECT anchor, CAST(rk AS INT) AS rk, neg AS negative_id, sim FROM (
           SELECT anchor, neg, sim,
                  row_number() OVER (PARTITION BY anchor ORDER BY sim DESC, neg) AS rk
           FROM sym)
         WHERE rk <= 2 ORDER BY anchor, rk""",
    "anom_lof" ->
      s"""WITH base AS (
           SELECT vec_id, embedding FROM embeddings WHERE vec_id < 256),
         p AS (
           SELECT a.vec_id AS v, b.vec_id AS n,
                  CAST(round(1.0 - ${cosSql("a.embedding", "b.embedding")}, 6)
                    AS DECIMAL(18,6)) AS dist
           FROM base a JOIN base b ON a.vec_id <> b.vec_id),
         knn AS (
           SELECT v, n, dist FROM (
             SELECT v, n, dist,
                    row_number() OVER (PARTITION BY v ORDER BY dist, n) AS rk
             FROM p) WHERE rk <= 4),
         kd AS (SELECT v, max(dist) AS kdist FROM knn GROUP BY 1),
         lrd AS (
           SELECT k.v,
                  CASE WHEN sum(greatest(o.kdist, k.dist)) > 0
                       THEN CAST(round(4.0 /
                         CAST(sum(greatest(o.kdist, k.dist)) AS DOUBLE), 6)
                         AS DECIMAL(18,6)) END AS lrd
           FROM knn k JOIN kd o ON k.n = o.v GROUP BY k.v),
         slo AS (
           SELECT k.v, sum(o.lrd) AS slo
           FROM knn k JOIN lrd o ON k.n = o.v GROUP BY k.v)
         SELECT kd.v AS vec_id, CAST(kd.kdist AS DOUBLE) AS k_dist,
                CAST(l.lrd AS DOUBLE) AS lrd,
                round(CAST(f.slo AS DOUBLE) / (4.0 * CAST(l.lrd AS DOUBLE)), 6)
                  AS lof
         FROM kd JOIN lrd l ON kd.v = l.v JOIN slo f ON kd.v = f.v
         ORDER BY vec_id""",
    // same candidate edges, folded to components by recursive
    // reachability (UNION dedups → terminates); min = component.
    "dedup_semantic_cluster" ->
      s"""WITH RECURSIVE $lshRangePairsSql,
         edges AS (SELECT d1 AS a, d2 AS b FROM rpairs
                   UNION ALL SELECT d2, d1 FROM rpairs),
         nodes AS (SELECT DISTINCT a AS id FROM edges),
         walk(node, root) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.b, w.root FROM walk w JOIN edges e ON e.a = w.node)
         SELECT node AS vec_id, min(root) AS comp,
                node = min(root) AS is_representative
         FROM walk GROUP BY node ORDER BY vec_id""",
    // same deterministic TRAINED codebook (first-K seed + unrolled Lloyd
    // rounds), same sequential-fold subspace L2, same DECIMAL-exact ADC
    // sum — the PQ train/encode/lookup/shortlist/re-rank path reproduced
    // end to end.
    "vec_pq_ann" ->
      s"""WITH $lloydCbSql,
         enc AS (
           SELECT vec_id, m, cw FROM (
             SELECT e.vec_id, p.m, c.cw,
               row_number() OVER (PARTITION BY e.vec_id, p.m ORDER BY
                 list_aggregate(list_transform(range(1, 9), i ->
                   (e.embedding[p.m * 8 + i]::DOUBLE - c.cv[p.m * 8 + i]::DOUBLE)
                   * (e.embedding[p.m * 8 + i]::DOUBLE - c.cv[p.m * 8 + i]::DOUBLE)),
                   'sum'), c.cw) AS crn
             FROM embeddings e CROSS JOIN range(0, 8) p(m) CROSS JOIN cb c)
           WHERE crn = 1),
         pd AS (
           SELECT q.vec_id AS probe_id, p.m, c.cw,
             CAST(list_aggregate(list_transform(range(1, 9), i ->
               (q.embedding[p.m * 8 + i]::DOUBLE - c.cv[p.m * 8 + i]::DOUBLE)
               * (q.embedding[p.m * 8 + i]::DOUBLE - c.cv[p.m * 8 + i]::DOUBLE)),
               'sum') AS DECIMAL(18,6)) AS dd
           FROM embeddings q CROSS JOIN range(0, 8) p(m) CROSS JOIN cb c
           WHERE q.vec_id < 8),
         ad AS (
           SELECT pd.probe_id, enc.vec_id, sum(pd.dd) AS adist
           FROM enc JOIN pd ON enc.m = pd.m AND enc.cw = pd.cw
           WHERE enc.vec_id <> pd.probe_id
           GROUP BY 1, 2),
         short AS (
           SELECT probe_id, vec_id FROM (
             SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY adist, vec_id) AS srn
             FROM ad)
           WHERE srn <= 8)
         SELECT probe_id, vec_id AS neighbor_id, sim, rn FROM (
           SELECT s.probe_id, e.vec_id, round($sqlCosDuck, 6) AS sim,
             row_number() OVER (PARTITION BY s.probe_id
               ORDER BY round($sqlCosDuck, 6) DESC, e.vec_id) AS rn
           FROM short s
           JOIN embeddings e ON s.vec_id = e.vec_id
           JOIN (SELECT vec_id AS p2, embedding AS qv FROM embeddings WHERE vec_id < 8) q
             ON s.probe_id = q.p2)
         WHERE rn <= 3 ORDER BY probe_id, rn""",
    // IVF coarse cells (arg_min medoids) composed with the PQ encode/ADC
    // CTEs — candidates restricted to the probe's 2 nearest cells before
    // any ADC scoring, then the same shortlist + exact re-rank.
    "vec_ivfpq_ann" ->
      s"""WITH $lloydCbSql,
         enc AS (
           SELECT vec_id, label, m, cw FROM (
             SELECT e.vec_id, e.label, p.m, c.cw,
               row_number() OVER (PARTITION BY e.vec_id, p.m ORDER BY
                 list_aggregate(list_transform(range(1, 9), i ->
                   (e.embedding[p.m * 8 + i]::DOUBLE - c.cv[p.m * 8 + i]::DOUBLE)
                   * (e.embedding[p.m * 8 + i]::DOUBLE - c.cv[p.m * 8 + i]::DOUBLE)),
                   'sum'), c.cw) AS crn
             FROM embeddings e CROSS JOIN range(0, 8) p(m) CROSS JOIN cb c)
           WHERE crn = 1),
         pd AS (
           SELECT q.vec_id AS probe_id, p.m, c.cw,
             CAST(list_aggregate(list_transform(range(1, 9), i ->
               (q.embedding[p.m * 8 + i]::DOUBLE - c.cv[p.m * 8 + i]::DOUBLE)
               * (q.embedding[p.m * 8 + i]::DOUBLE - c.cv[p.m * 8 + i]::DOUBLE)),
               'sum') AS DECIMAL(18,6)) AS dd
           FROM embeddings q CROSS JOIN range(0, 8) p(m) CROSS JOIN cb c
           WHERE q.vec_id < 8),
         centroids AS (
           SELECT label AS c_label, arg_min(embedding, vec_id) AS cvv
           FROM embeddings GROUP BY label),
         pc AS (
           SELECT pc_probe, c_label FROM (
             SELECT p.vec_id AS pc_probe, c.c_label,
               row_number() OVER (PARTITION BY p.vec_id
                 ORDER BY round(${cosSql("p.embedding", "c.cvv")}, 6) DESC, c.c_label) AS crn
             FROM embeddings p CROSS JOIN centroids c WHERE p.vec_id < 8)
           WHERE crn <= 2),
         ad AS (
           SELECT pd.probe_id, enc.vec_id, sum(pd.dd) AS adist
           FROM enc
           JOIN pc ON enc.label = pc.c_label
           JOIN pd ON pd.probe_id = pc.pc_probe AND enc.m = pd.m AND enc.cw = pd.cw
           WHERE enc.vec_id <> pd.probe_id
           GROUP BY 1, 2),
         short AS (
           SELECT probe_id, vec_id FROM (
             SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY adist, vec_id) AS srn
             FROM ad)
           WHERE srn <= 8)
         SELECT probe_id, vec_id AS neighbor_id, sim, rn FROM (
           SELECT s.probe_id, e.vec_id, round($sqlCosDuck, 6) AS sim,
             row_number() OVER (PARTITION BY s.probe_id
               ORDER BY round($sqlCosDuck, 6) DESC, e.vec_id) AS rn
           FROM short s
           JOIN embeddings e ON s.vec_id = e.vec_id
           JOIN (SELECT vec_id AS p2, embedding AS qv FROM embeddings WHERE vec_id < 8) q
             ON s.probe_id = q.p2)
         WHERE rn <= 3 ORDER BY probe_id, rn""",
    // medoid seeds via arg_min(embedding, vec_id) — identical to the
    // Spark-side lowest-id-per-label row; cells then searched exactly.
    "vec_ivf_ann" ->
      s"""WITH centroids AS (
           SELECT label AS c_label, arg_min(embedding, vec_id) AS qv
           FROM embeddings GROUP BY label),
         pc AS (
           SELECT probe_id, c_label FROM (
             SELECT p.vec_id AS probe_id, c.c_label,
               row_number() OVER (PARTITION BY p.vec_id
                 ORDER BY round(${cosSql("p.embedding", "c.qv")}, 6) DESC, c.c_label) AS crn
             FROM embeddings p CROSS JOIN centroids c WHERE p.vec_id < 8)
           WHERE crn <= 2)
         SELECT probe_id, vec_id AS neighbor_id, sim, rn FROM (
           SELECT pc.probe_id, e.vec_id, round(${cosSql("e.embedding", "q.qv")}, 6) AS sim,
             row_number() OVER (PARTITION BY pc.probe_id
               ORDER BY round(${cosSql("e.embedding", "q.qv")}, 6) DESC, e.vec_id) AS rn
           FROM embeddings e
           JOIN pc ON e.label = pc.c_label
           JOIN (SELECT vec_id, embedding AS qv FROM embeddings WHERE vec_id < 8) q
             ON pc.probe_id = q.vec_id
           WHERE e.vec_id <> pc.probe_id)
         WHERE rn <= 3 ORDER BY probe_id, rn""",
    "vec_ivf_balance" ->
      s"""WITH centroids AS (
           SELECT label AS c_label, arg_min(embedding, vec_id) AS qv
           FROM embeddings GROUP BY label),
         a AS (
           SELECT vec_id, label, c_label AS cell FROM (
             SELECT e.vec_id, e.label, c.c_label,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(${cosSql("e.embedding", "c.qv")}, 6) DESC,
                          c.c_label) AS crn
             FROM embeddings e CROSS JOIN centroids c)
           WHERE crn = 1),
         cells AS (
           SELECT cell, count(1) AS n_vecs,
                  count(CASE WHEN label <> cell THEN 1 END) AS n_foreign
           FROM a GROUP BY 1)
         SELECT CAST(cell AS INT) AS cell, n_vecs, n_foreign,
                round(CAST(n_vecs AS DOUBLE) * count(1) OVER ()
                  / sum(n_vecs) OVER (), 6) AS load_factor,
                round(CAST(n_foreign AS DOUBLE) / n_vecs, 6) AS foreign_share
         FROM cells ORDER BY cell"""
  )
}
