package graft

import org.apache.spark.sql.SparkSession

/** Every `spark.graft.*` setting, and the only module that reads one.
  * SURVEY.md §6.7 carries the table; KnobsSpec asserts every entry
  * resolves its conf override and that none changes a result.
  *
  * Each knob in [[all]] is a capacity lever that must grow (or shrink)
  * with data volume: it changes WHERE work happens (broadcast vs shuffle,
  * bucket fan-out, target partitioning), never what is computed, so a
  * 100× deployment tunes it freely without recompiling (VERDICT r13
  * item 3). A value that changes a published result (a round bound, a
  * sketch occupancy) is a constant next to its oracle, never a conf.
  *
  * Two switches sit outside [[all]]: [[checkpointDir]] (where round pins
  * go) and [[forceCollapse]] (a parity hook); neither changes a result.
  *
  * Accessors read the session conf on EVERY call, so a long-lived
  * driver can retune between corpora without rebuilding sessions.
  */
object Knobs {

  private def long(s: SparkSession, key: String, dflt: Long): Long =
    s.conf.getOption(key).map(_.toLong).getOrElse(dflt)
  private def int(s: SparkSession, key: String, dflt: Int): Int =
    s.conf.getOption(key).map(_.toInt).getOrElse(dflt)

  /** Per-band bucket-occupancy target for mm_phash's banded hamming join:
    * 4 bands × 16 bits while occupancy·2^15 ≥ |docs| (2^15 = the
    * smallest band's value space — the aHash is 63-bit), else 3 bands ×
    * 21 bits (2^21 buckets/band). Pure capacity: by pigeonhole any pair
    * within hamming ≤ 2 still agrees on ≥ b−2 ≥ 1 bands at either
    * setting, so the published pair set is IDENTICAL — only bucket
    * fan-out changes. 3 bands is the floor (b ≥ 3 is what guarantees
    * hamming ≤ 2 detection); past occupancy·2^20 docs the documented
    * scale path is a wider hash, like the 30-plane LSH cap. Default 8
    * keeps 4×16 through 262 144 docs. */
  val PhashBandOccupancyKey = "spark.graft.phash.bandOccupancy"
  val PhashBandOccupancyDefault = 8L
  def phashBandOccupancy(s: SparkSession): Long =
    long(s, PhashBandOccupancyKey, PhashBandOccupancyDefault)

  /** Hash-partition count of the streaming upsert sink's keyed target
    * layout (`_pk = pmod(event_id, n)`). Per-batch merge cost is
    * O(touched buckets · bucket size); at 100 TB raise it so a bucket
    * stays executor-memory-sized. MUST be fixed for the life of one
    * target directory — changing it mid-stream re-keys the layout. */
  val UpsertPkBucketsKey = "spark.graft.upsert.pkBuckets"
  val UpsertPkBucketsDefault = 16
  def upsertPkBuckets(s: SparkSession): Int =
    int(s, UpsertPkBucketsKey, UpsertPkBucketsDefault)

  /** Edge-count gate under which HashMin component propagation
    * broadcasts the edge frame instead of shuffling per round. */
  val ComponentsBroadcastMaxEdgesKey = "spark.graft.components.broadcastMaxEdges"
  val ComponentsBroadcastMaxEdgesDefault = 2L << 20
  def componentsBroadcastMaxEdges(s: SparkSession): Long =
    long(s, ComponentsBroadcastMaxEdgesKey, ComponentsBroadcastMaxEdgesDefault)

  /** Node-count gate under which iterative graph queries (pagerank, LPA,
    * BFS frontiers, k-core keep-sets, truss neighbor sets) broadcast the
    * per-round node frame instead of shuffling it. */
  val GraphBroadcastMaxNodesKey = "spark.graft.graph.broadcastMaxNodes"
  val GraphBroadcastMaxNodesDefault = 4L << 20
  def graphBroadcastMaxNodes(s: SparkSession): Long =
    long(s, GraphBroadcastMaxNodesKey, GraphBroadcastMaxNodesDefault)

  /** Every knob: (conf key, compiled default) — the machine-readable
    * form of SURVEY §6.7, asserted by KnobsSpec. */
  val all: Seq[(String, String)] = Seq(
    PhashBandOccupancyKey -> PhashBandOccupancyDefault.toString,
    UpsertPkBucketsKey -> UpsertPkBucketsDefault.toString,
    ComponentsBroadcastMaxEdgesKey -> ComponentsBroadcastMaxEdgesDefault.toString,
    GraphBroadcastMaxNodesKey -> GraphBroadcastMaxNodesDefault.toString)

  /** Reliable-checkpoint directory for round pins (see
    * [[graft.operators.RoundPin]]); unset or empty keeps local checkpoints. */
  val CheckpointDirKey = "spark.graft.checkpointDir"
  def checkpointDir(s: SparkSession): Option[String] =
    s.conf.getOption(CheckpointDirKey).filter(_.nonEmpty)

  /** `true` runs the exact-dup collapse branch even on a duplicate-free
    * corpus — the test/parity hook; the branch is result-identical by
    * construction ([[graft.Tables.docCollapseGate]]). */
  val ForceCollapseKey = "spark.graft.dedup.forceCollapse"
  def forceCollapse(s: SparkSession): Boolean =
    s.conf.getOption(ForceCollapseKey).contains("true")
}
