package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables.QFn
import graft.operators.MinHashDedup

/** Streaming NEAR-duplicate dedup — the incremental MinHash-LSH variant
  * of `text_dedup_near` (closing the dedup family: `stream_dedup` is
  * exact-key only). Each micro-batch of documents is signature'd with the
  * same fused MinHash pass and 4×4 banding as the batch operator, then:
  *
  *   1. incoming docs whose band bucket collides with the ACCUMULATED
  *      signature store are dropped (the `dedup_incremental` ANTI-JOIN
  *      shape, run per batch; `dup_of` = smallest colliding kept doc);
  *   2. among store survivors, a doc colliding with a SMALLER surviving
  *      id in the same batch yields to it (keep-first — deterministic;
  *      a transitive chain resolves to its head on the next batch via
  *      the store, exactly like the batch `dedup_incremental` policy);
  *   3. survivors' band signatures are APPENDED to the store, so later
  *      batches dedup against everything kept so far.
  *
  * Scale shape: the store is hash-partitioned parquet keyed by
  * (band_idx, bh) — the per-batch join is a bucket join against an
  * index that holds K·BANDS longs per kept doc, NOT the corpus text; at
  * 100 TB the store would live behind a compacted table with a retention
  * window pruning signatures older than the dedup horizon (the batch
  * analog of a watermark). Like the batch operator, xxhash64 has no
  * DuckDB twin → no SQL oracle; the streaming unit spec plants exact and
  * cross-batch duplicates and asserts drop/keep decisions and `dup_of`
  * attribution.
  */
object StreamDedup extends graft.Bank {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Dedup one micro-batch against the signature store at `storeDir`;
    * write per-doc decisions (doc_id, dup_of, kept) under
    * `outDir/batch=<id>` and survivors' band signatures under
    * `storeDir/batch=<id>`.
    *
    * EXACTLY-ONCE under micro-batch replay: both writes go to a
    * batch-partitioned directory with OVERWRITE semantics (a replayed
    * batch rewrites its own partition — never appends a duplicate), and
    * the store read prunes to `batch < batchId`, so a replay cannot see
    * the failed attempt's own signatures and wrongly drop its docs as
    * store-dups. Same idempotent-publish discipline as the DocSink's
    * per-epoch manifests. */
  def processBatch(batch: DataFrame, batchId: Long,
      storeDir: java.nio.file.Path, outDir: java.nio.file.Path,
      retainBatches: Long = Long.MaxValue): Unit = {
    if (batch.isEmpty) return
    val ss = batch.sparkSession
    // EXACT-DUPLICATE COLLAPSE at the batch grain (VERDICT r15 item 1 —
    // the store was already collision-free by construction: survivors
    // never share a band, so only the IN-BATCH self-join was quadratic
    // in copy-factor, and a crawl-ingest batch full of boilerplate
    // copies is exactly the case that hits it). One signature per
    // distinct lower(text); members re-join relationally. The per-doc
    // decision is recovered EXACTLY: every candidate e < d sharing a
    // band is dominated by a cluster minimum (its own rep), so
    //   dup_of_batch(d) = min(rep          if d ≠ rep,
    //                         cmin_ext     if cmin_ext < d)
    // with cmin_ext = min rep of band-colliding store-surviving
    // clusters, and dup_of_store is per-cluster (identical signatures
    // probe identical store buckets).
    val keyed = batch.select(col("doc_id"), lower(col("text")).as("lt"))
      .withColumn("rep", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lt"))))
    val members = keyed.select(col("doc_id"), col("rep")).persist()
    val reps = keyed.filter(col("doc_id") === col("rep"))
      .select(col("rep").as("doc_id"), split(col("lt"), " ").as("toks"))
    val sig = MinHashDedup.signatures(reps, "doc_id", "toks", shingleWidth = 3)
    val bands = MinHashDedup.banded(sig, "doc_id")
      .withColumnRenamed("doc_id", "rep").persist()
    val hasStore = Files.exists(storeDir) && {
      val l = Files.list(storeDir)
      try l.anyMatch(p => p.getFileName.toString.startsWith("batch=")) finally l.close()
    }
    // 1. ANTI-JOIN shape vs the store (earlier batches only — partition-
    //    pruned, so a replayed batch never reads its own failed attempt).
    //    `retainBatches` is the dedup horizon — the batch analog of a
    //    watermark: signatures older than it are partition-pruned out of
    //    the join (and, in a production store, compacted away), so state
    //    read per batch is BOUNDED regardless of stream lifetime.
    val storeDrop =
      if (hasStore) {
        val store = ss.read.parquet(storeDir.toString)
          .filter(col("batch") < batchId &&
            col("batch") >= batchId - retainBatches)
          .select(col("doc_id").as("s_id"), col("band_idx"), col("bh"))
        bands.join(store, Seq("band_idx", "bh"))
          .groupBy(col("rep")).agg(min(col("s_id")).as("dup_of_store"))
      } else bands.select(col("rep")).limit(0)
        .withColumn("dup_of_store", lit(null).cast("long"))
    // 2. keep-first among the store survivors inside this batch, on the
    //    REP grain: colliding cluster pairs → each cluster's smallest
    //    colliding neighbor rep
    val survBands = bands.join(storeDrop.select(col("rep")), Seq("rep"), "left_anti")
    val inBatchDrop = survBands.select(col("rep").as("d"), col("band_idx"), col("bh"))
      .join(survBands.select(col("rep").as("e"), col("band_idx"), col("bh")),
        Seq("band_idx", "bh"))
      .filter(col("e") =!= col("d"))
      .groupBy(col("d")).agg(min(col("e")).as("cmin_ext"))
    // decisions re-expand to the member grain; persisted BEFORE the
    // store write so the write's lineage reads the cache, never the
    // store directory it writes to
    val decisions = members
      .join(storeDrop, Seq("rep"), "left")
      .join(inBatchDrop, col("rep") === col("d"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_of_store"),
          least(when(col("doc_id") =!= col("rep"), col("rep")),
            when(col("cmin_ext") < col("doc_id"), col("cmin_ext"))))
          .as("dup_of"))
      .withColumn("kept", col("dup_of").isNull)
      .persist()
    decisions.write.mode(SaveMode.Overwrite)
      .parquet(outDir.resolve(s"batch=$batchId").toString)
    // 3. survivors' signatures extend the store (own partition,
    //    overwrite). Survivors are always cluster reps (a non-rep member
    //    is at least its rep's duplicate), so the rep-grain band frame
    //    covers them.
    bands.join(decisions.filter(col("kept")).select(col("doc_id").as("rep")), Seq("rep"))
      .select(col("rep").as("doc_id"), col("band_idx"), col("bh"))
      .write.mode(SaveMode.Overwrite)
      .parquet(storeDir.resolve(s"batch=$batchId").toString)
    decisions.unpersist(false)
    bands.unpersist(false)
    members.unpersist(false)
  }

  /** The documents table as two batches (even doc_ids, then odd) so the
    * file stream replays two micro-batches and planted near-dup pairs with
    * adjacent ids land CROSS-batch. */
  private[graft] val stageDocBatches = graft.Fixture("docs") { (s, dir, out) =>
    val docs = graft.Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    Streams.writeBatches(out,
      Seq(docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1)))
  }

  /** Run the incremental-LSH dedup stream over staged document batches
    * into a FRESH per-invocation store/output (the store accumulates by
    * design — reuse across runs would dedup against a previous run). */
  def run(s: org.apache.spark.sql.SparkSession, inDir: java.nio.file.Path): DataFrame = {
    val runDir = graft.Scratch.fresh(s, "sdn_")
    val storeDir = runDir.resolve("store")
    val outDir = runDir.resolve("out")
    Streams.drain(s, "sdn", s.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
      .writeStream.foreachBatch((b: DataFrame, id: Long) => processBatch(b, id, storeDir, outDir)))
    // decisions are batch-partitioned (batch=N dirs); the partition
    // column carries the batch id. Materialize the (doc-count-sized)
    // decision frame eagerly so the per-invocation runDir — store and
    // output — can be deleted HERE: without the cleanup every invocation
    // (bench warmup + timed run + specs) would keep a full store tree
    // until the context stops.
    val res = s.read.parquet(outDir.toString)
      .select(col("doc_id"), col("batch").cast("long").as("batch_id"),
        col("kept"), col("dup_of"))
      .orderBy(col("doc_id"))
      .transform(graft.operators.RoundPin.pin)
    org.apache.commons.io.FileUtils.deleteQuietly(runDir.toFile)
    res
  }

  val queries: Map[String, QFn] = Map(
    "stream_dedup_near" -> ((s, dir) => run(s, stageDocBatches(s, dir))))

  val oracles: Map[String, String] = Map.empty // xxhash64 has no DuckDB twin
}
