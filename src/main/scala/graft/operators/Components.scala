package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generic HashMin connected-components fixpoint, shared by the two
  * near-dup clustering operators (`dedup_cluster` over the Jaccard pair
  * graph, `dedup_semantic_cluster` over the LSH-cosine embedding graph).
  * Component id = min node id reachable. Iterations bounded by component
  * diameter; each is one bounded shuffle (the Pregel/GraphX shape). Fails
  * loudly rather than returning partially-propagated labels.
  *
  * Conf scope: the whole fixpoint runs on a CLONED session (shared
  * context, isolated SQLConf) with AQE off and shuffle parallelism
  * DERIVED FROM THE PINNED EDGE COUNT (one partition per ~64k edges,
  * min 1): fixture-scale probe windows get the single native shuffle
  * partition that replaces a per-frame coalesce(1) workaround, while an
  * unbounded edge set scales the loop's parallelism with the data — the
  * conf is a function of input size, not a hard-coded fixture constant.
  * The loop's broadcast hints are size-gated by the same count: past the
  * gate the per-round joins run hash-partitioned, the cluster-scale
  * shape. Disabling AQE matters because `df.rdd` on an adaptive plan
  * EXECUTES its shuffle stages eagerly — every pin would pay a per-round
  * stage-materialization + re-planning tax. The caller's session conf is
  * never touched.
  *
  * Lineage discipline: every iterated frame is pinned — cached at the RDD
  * layer and re-wrapped as a fresh LogicalRDD-rooted DataFrame, which BOTH
  * avoids recomputation AND truncates the logical plan. cache() alone
  * truncates nothing logically: each round's plan would embed the previous
  * round's (twice, via the jump self-join), so Catalyst analysis cost
  * grows ~4× per iteration and dominates within a handful of rounds. (The
  * direct localCheckpoint API trips an attribute-rewrite bug on this plan
  * shape in Spark 4.1, so the truncation is spelled out as the rdd
  * round-trip.) Superseded RDDs are reclaimed by the ContextCleaner once
  * the loop drops them.
  */
private[graft] object Components {

  /** Loop shuffle parallelism from the pinned edge count: one partition
    * per ~64k edges, floor 1 (fixture scale), capped only by a sanity
    * ceiling. Exposed for the unit test. */
  private[graft] def loopPartitions(nEdges: Long): Int =
    math.min(math.max(1L, nEdges / 65536L), 16384L).toInt

  /** `pairs`: columns `d1`,`d2` — one row per UNDIRECTED edge
    * (symmetrized internally). `nodes` (one column `id`), when given,
    * fixes the label domain — pass it to include singletons in the
    * output; when None the domain is the edge-touched endpoint set,
    * derived from the ALREADY-PINNED pair frame so the (possibly
    * expensive) pair subtree is evaluated exactly once. Inputs may be
    * built on the caller's session at full shuffle parallelism — RDDs are
    * context-level, so they pin into the narrow loop session unchanged.
    * Returns the DISTRIBUTED labels frame (`doc_id`, `comp`), re-rooted on
    * the caller's session: the label set of a near-dup graph at corpus
    * scale is not driver-sized, so nothing on the query path collects —
    * downstream joins/windows consume it like any other frame.
    */
  /** One fused HashMin step + pointer jump —
    *   comp' := min(comp, min over neighbors' comp, comp[comp])
    * as a single union+min aggregation. The jump reads the PREVIOUS
    * round's labels (not this round's half-stepped frame), so the whole
    * round is one pinned frame / one planning pass / one broadcast pair.
    * Jumping through the older frame still (at least) halves the
    * remaining pointer depth per round, so rounds stay O(log diameter);
    * every round contains the plain HashMin contribution, so the
    * fixpoint (min reachable id) is unchanged — and oracle-checked.
    * `bcast` is the size-gated hint (broadcast under the edge gate,
    * identity above it — then both joins run hash-partitioned, the
    * cluster-scale shape). Factored out so PlanSpec exercises and pins
    * both physical shapes. */
  private[graft] def hashMinRound(labels: DataFrame, edges: DataFrame,
      bcast: DataFrame => DataFrame): DataFrame = {
    val viaEdges = labels.join(bcast(edges), labels("doc_id") === edges("d1"))
      .select(col("d2").as("doc_id"), col("comp"))
    val viaJump = labels.as("x")
      .join(bcast(labels.select(col("doc_id").as("p"), col("comp").as("pc")).as("y")),
        col("x.comp") === col("y.p"), "left")
      .select(col("x.doc_id").as("doc_id"),
        coalesce(col("pc"), col("x.comp")).as("comp"))
    labels.select(col("doc_id"), col("comp"))
      .union(viaEdges).union(viaJump)
      .groupBy("doc_id").agg(min(col("comp")).as("comp"))
  }

  /** `broadcastMaxEdges` overrides the gate so tests can force the
    * above-gate shuffle path end-to-end on fixture graphs; the -1
    * default resolves the conf-overridable knob
    * (graft.Knobs.componentsBroadcastMaxEdges). */
  def hashMinLabels(outer: SparkSession, pairs: DataFrame,
                    nodes: Option[DataFrame] = None,
                    broadcastMaxEdges: Long = -1L): DataFrame = {
    val s = org.apache.spark.sql.graftbridge.Bridge.cloneSession(outer)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // RoundPin's reliable-checkpoint setup applies to this fixpoint too:
    // in reliable mode each round's cached RDD also checkpoints (cache
    // serves the round's reads, the checkpoint survives executor loss —
    // the cache+checkpoint combo, so the checkpoint write reads the cache
    // instead of recomputing). The per-round action below materializes both.
    val reliable = RoundPin.reliable(s)
    def pin(df: DataFrame): DataFrame = {
      val r = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (reliable) r.checkpoint()
      s.createDataFrame(r, df.schema)
    }
    val p = pin(pairs.select(col("d1"), col("d2")))
    // the count doubles as the cache-materializing action the loop needs
    // anyway; parallelism + broadcast strategy derive from it (see object
    // Scaladoc) so the same code path is correct at fixture AND cluster
    // scale — no hard-coded fixture conf
    val nEdges = p.count()
    s.conf.set("spark.sql.shuffle.partitions", loopPartitions(nEdges).toString)
    val maxEdges = if (broadcastMaxEdges >= 0) broadcastMaxEdges
      else graft.Knobs.componentsBroadcastMaxEdges(outer)
    val bcast: DataFrame => DataFrame =
      if (nEdges <= maxEdges) broadcast else identity
    val edges = pin(p.union(p.select(col("d2").as("d1"), col("d1").as("d2"))))
    val nodeIds = nodes.getOrElse(
      p.select(col("d1").as("id")).union(p.select(col("d2").as("id"))).distinct())
    var labels = pin(nodeIds.select(col("id").as("doc_id"))
      .withColumn("comp", col("doc_id")))
    // HashMin labels only ever DECREASE, so sum(comp) is strictly
    // decreasing until the fixpoint — an equal sum IS convergence. That
    // makes the check one cheap agg on the already-cached frame instead of
    // a compare-join + second action per iteration. Seeded with an
    // impossible sum (comps are non-negative ids) so no separate
    // initializing action is needed.
    var sumPrev = -1L
    val maxIter = 40 // pointer jumping ⇒ O(log diameter); generous slack
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = pin(hashMinRound(labels, edges, bcast))
      // empty node set sums to NULL → 0: converges on the second round
      val sumNow = Option(next.agg(sum(col("comp"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      converged = sumNow == sumPrev
      sumPrev = sumNow
      labels = next
      iter += 1
    }
    require(converged, s"component labeling did not converge in $maxIter iterations")
    // re-root the final (already RDD-cached) label frame on the CALLER's
    // session, so downstream operators plan under the caller's conf — the
    // loop-local 1-partition/AQE-off conf never leaks, and no collect()
    // ever materializes the labels on the driver.
    outer.createDataFrame(labels.rdd, labels.schema)
  }
}
