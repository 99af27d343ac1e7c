package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables.{dsum, t, EventTypes, QFn}

/** §2.H Structured Streaming operators (SURVEY.md): the reference's
  * continuous paginated pull + incremental load loop
  * (/root/reference/README.md:13,:24,:29,:33-34) re-expressed as
  * micro-batch streams over the events table.
  *
  * Each registered query runs a REAL streaming query (file source → memory
  * or foreachBatch sink) to completion via processAllAvailable, then
  * returns the materialized result — so the driver's harness exercises the
  * streaming engine, not a batch stand-in. Semantics are pinned by the
  * oracled batch twins in operators.Windows (win_*_batch) and the
  * MemoryStream unit specs (late data, duplicates, session gaps).
  *
  * Scale notes: all stateful aggs key their state by (window, type) or
  * user — state is hash-partitioned across executors by the same shuffle
  * as the batch twin; watermarks bound state growth; the upsert sink's
  * per-batch MERGE is the foreachBatch pattern that backs Delta/Iceberg
  * upserts on a real cluster (here: hash-partitioned target + dynamic
  * partition overwrite of only the buckets a batch touches).
  */
object Streams extends graft.Bank {

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // overridden per-fixture; see eventsStream
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The file-stream source needs a directory, so a single events file
    * is staged (symlinked) into a scratch dir per scale factor. */
  private[graft] val stageEventsLink = graft.Fixture("events") { (_, sfDir, out) =>
    val src = Paths.get(graft.Tables.path(sfDir, "events"))
    Files.createDirectories(out)
    Files.createSymbolicLink(out.resolve(src.getFileName), src)
  }

  /** File-source stream over the events parquet with µs timestamps. An
    * events directory of part files is streamed itself; a single file,
    * through its staged link. The stream schema takes the `ts` type the
    * generator wrote (ns-INT64 in earlier drops, µs TIMESTAMP in current
    * ones) from the `Tables` schema memo, keyed by the file version, so no
    * stream replay pays a footer read; `ts` then normalizes to a session-tz
    * TIMESTAMP exactly as `Tables.events` does for the batch path. */
  private[graft] def eventsStream(s: SparkSession, sfDir: String): DataFrame = {
    val tsType = graft.Tables.eventsTsType(s, sfDir)
    val src = Paths.get(graft.Tables.path(sfDir, "events"))
    val dir = if (Files.isDirectory(src)) src else stageEventsLink(s, sfDir)
    val schema = StructType(eventSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    graft.Tables.normalizeTs(s.readStream.schema(schema).parquet(dir.toString), tsType)
  }

  /** Write `frames` as `<i>_batch.parquet` files in `inDir`, one file per
    * frame, so a file stream with maxFilesPerTrigger=1 replays them in
    * order, one per trigger; a [[graft.Fixture]] writer, so it runs once
    * per (context, sf dir). FileStreamSource orders by modification time,
    * not name, and the staged parts' mtimes can tie on coarse-grained
    * filesystems, so each file's mtime is pinned, strictly increasing. */
  private[graft] def writeBatches(inDir: Path, frames: Seq[DataFrame]): Unit = {
    Files.createDirectories(inDir)
    frames.zipWithIndex.foreach { case (frame, i) =>
      val part = inDir.resolve(s"_part$i")
      frame.coalesce(1).write.mode(SaveMode.Overwrite).parquet(part.toString)
      val listing = Files.list(part)
      val parts =
        try listing.filter(_.toString.endsWith(".parquet")).toArray(new Array[Path](_))
        finally listing.close()
      // a blind REPLACE_EXISTING move of several parts onto one name
      // would silently drop data
      require(parts.length == 1,
        s"expected exactly 1 part file in $part (coalesce(1) staging), got ${parts.length}")
      val staged = inDir.resolve(s"${i}_batch.parquet")
      Files.move(parts.head, staged, StandardCopyOption.REPLACE_EXISTING)
      FileUtils.deleteQuietly(part.toFile)
      Files.setLastModifiedTime(staged, FileTime.fromMillis((i + 1) * 1000000L))
    }
  }

  /** Keyed MERGE of one micro-batch into a parquet "collection", rewriting
    * ONLY the hash-partitions the batch touches. The target is laid out as
    * `_pk = pmod(event_id, PK_BUCKETS)` partitions; existing rows are read
    * with a partition-pruning filter on the touched buckets, merged
    * keep-latest on `_batch`, and written back with dynamic partition
    * overwrite — per-batch cost is O(touched partitions), not O(target),
    * which is what keeps a continuous upsert viable at 100 TB.
    * (On a real cluster this is the Delta/Iceberg MERGE plan; the dynamic
    * overwrite is the transaction-log-less commit boundary.) */
  private[graft] val PK_BUCKETS = graft.Knobs.UpsertPkBucketsDefault

  /** The bucket count is the TARGET'S layout, not the session's opinion:
    * a merge keyed on a different count than the one the resident rows
    * were written with prunes those rows out of the merge read and
    * silently duplicates/loses updates. The count is therefore persisted
    * WITH the target (`_PK_BUCKETS` marker, written once at create) and
    * every later merge uses the marker — failing loudly if the session
    * conf disagrees, instead of trusting it (ADVICE r14). A pre-marker
    * target (older layout on disk) derives the count from its `_pk=`
    * partition dirs and writes the marker on first touch. */
  private val PkMarker = "_PK_BUCKETS"
  private[graft] def pkBucketsOf(tgtDir: java.nio.file.Path): Option[Int] = {
    val marker = tgtDir.resolve(PkMarker)
    if (Files.exists(marker)) Some(Files.readString(marker).trim.toInt)
    else if (Files.exists(tgtDir)) {
      val listing = Files.list(tgtDir)
      val maxPk =
        try listing.toArray(new Array[java.nio.file.Path](_))
          .map(_.getFileName.toString).collect {
            case n if n.startsWith("_pk=") => n.stripPrefix("_pk=").toInt
          }
        finally listing.close()
      // derivation only sees buckets that HOLD rows, so a small/skewed
      // legacy target whose TOP buckets are empty would under-derive —
      // and if the session conf happened to equal that wrong value the
      // require below would pass and the merge would re-key with the
      // wrong modulus (ADVICE r15). Round up to the next power of two
      // (the knob's natural values): a populated-gap derivation then
      // lands back on the true pow2 layout, and a genuinely non-pow2
      // legacy layout fails the require LOUDLY instead of silently
      // re-keying.
      if (maxPk.isEmpty) None
      else Some(java.lang.Integer.highestOneBit(
        math.max(1, 2 * maxPk.max + 1)))
    } else None
  }

  private[graft] def upsertBatch(incoming: DataFrame, tgtDir: java.nio.file.Path,
      batchId: Long): Unit = {
    if (incoming.isEmpty) return // an empty trigger must not touch the target
    val ss = incoming.sparkSession
    val confBuckets = graft.Knobs.upsertPkBuckets(incoming.sparkSession)
    val resident = pkBucketsOf(tgtDir)
    resident.foreach { n =>
      require(n == confBuckets,
        s"upsert target $tgtDir was laid out with _pk buckets=$n but " +
          s"${graft.Knobs.UpsertPkBucketsKey}=$confBuckets — the bucket count is " +
          "fixed for the life of a target; retune only for NEW targets " +
          "(or rewrite this one)")
    }
    val pkBuckets = resident.getOrElse(confBuckets)
    val withPk = incoming
      .withColumn("_batch", lit(batchId))
      .withColumn("_pk", pmod(col("event_id"), lit(pkBuckets)).cast("int"))
    if (!Files.exists(tgtDir)) {
      withPk.write.mode(SaveMode.Overwrite).partitionBy("_pk").parquet(tgtDir.toString)
      Files.writeString(tgtDir.resolve(PkMarker), pkBuckets.toString)
    } else {
      if (resident.exists(_ => !Files.exists(tgtDir.resolve(PkMarker))))
        Files.writeString(tgtDir.resolve(PkMarker), pkBuckets.toString)
      // touched bucket ids: bounded by PK_BUCKETS, safe to collect
      val touched = withPk.select(col("_pk")).distinct().collect().map(_.getInt(0)).toSeq
      val existing = ss.read.parquet(tgtDir.toString)
        .filter(col("_pk").isin(touched: _*)) // partition pruning on _pk
      val w = Window.partitionBy(col("event_id")).orderBy(col("_batch").desc)
      val merged = existing.unionByName(withPk)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      // INVARIANT: this write MUST stay dynamic-partition-overwrite. The
      // job reads tgtDir and overwrites the same path; dynamic mode defers
      // deletion of replaced partitions to job commit, after the read is
      // done. Static overwrite (or dropping the option) would delete input
      // files mid-read. Guarded by the byte-identical-partition unit test.
      merged.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_pk").parquet(tgtDir.toString)
    }
  }

  /** The upsert-sink input feed: batch 0 = the raw events, batch 1 =
    * corrected duplicates (value × 2 for every 5th id). */
  private[graft] val stageUpsertInput = graft.Fixture("in") { (s, dir, out) =>
    val raw = graft.Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    writeBatches(out, Seq(raw,
      raw.filter(col("event_id") % 5 === 0).withColumn("value", col("value") * 2)))
  }

  /** Drain a bounded stream: start `writer` with an explicit checkpoint in
    * a fresh scratch dir, process all available input, stop, and delete
    * the checkpoint — these replays have nothing to recover. Every replay
    * builds its stream on the caller's session `s`, so the query reports
    * its progress to the listeners registered there and runs at that
    * session's shuffle width. */
  private[graft] def drain(s: SparkSession, name: String, writer: DataStreamWriter[_]): Unit = {
    val ckpt = graft.Scratch.fresh(s, s"ckpt_${name}_")
    val q = writer.option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally {
      q.stop()
      FileUtils.deleteQuietly(ckpt.toFile)
    }
  }

  /** Drain `stream` into a memory sink named `name` and return the sink's
    * contents as a frame. The sink registers a temp view on the stream's
    * session; the resolved frame keeps the sink, so the view is dropped
    * before returning and a replay leaves no view behind. */
  private[graft] def drainToFrame(s: SparkSession, stream: DataFrame,
      name: String, mode: String): DataFrame = {
    drain(s, name, stream.writeStream.format("memory").queryName(name).outputMode(mode))
    val out = s.table(name)
    s.catalog.dropTempView(name)
    out
  }

  val queries: Map[String, QFn] = Map(
    // Streaming heavy hitters — per hourly window, the top-3 event types
    // by count (the leaderboard every streaming dashboard shows). The
    // STREAM side is the plain tumbling count through the complete-mode
    // memory sink; the top-k is a batch rank over the materialized
    // WINDOW-grain frame (|windows|·|types| rows — the rank window is
    // partitioned by window start, never global, never the fact).
    "stream_topk" -> ((s, dir) => {
      val hourly = drainToFrame(s, eventsStream(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n")),
        "mem_topk", "complete")
        .select(unix_timestamp(col("window.start")).as("w_start_s"),
          col("event_type"), col("n"))
      hourly.withColumn("rk", row_number().over(
          Window.partitionBy(col("w_start_s"))
            .orderBy(col("n").desc, col("event_type"))))
        .filter(col("rk") <= 3)
        .select(col("w_start_s"), col("rk").cast("int").as("rk"),
          col("event_type"), col("n"))
        .orderBy(col("w_start_s"), col("rk"))
    }),

    "stream_tumbling" -> ((s, dir) => {
      drainToFrame(s, eventsStream(s, dir)
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("v")),
        "mem_tumbling", "complete")
        .select(unix_timestamp(col("window.start")).as("w_start_s"),
          col("event_type"), col("n"), col("v"))
        .orderBy(col("w_start_s"), col("event_type"))
    }),

    // Streaming histogram quantiles — per tumbling hour, p50/p95 as
    // fixed-bin histogram edges (50 × width-10 bins over the value
    // domain): the bounded-state way to serve latency/value percentiles
    // from a stream — exact quantiles need the window's full value
    // multiset in state, a histogram needs 50 counters per window at ANY
    // event rate. The STREAM side is the windowed bin count through the
    // complete-mode memory sink; the quantile fold is a batch rank over
    // the (window × ≤50 bins) grain, integer-exact (2·cum ≥ n and
    // 20·cum ≥ 19·n avoid float thresholds).
    "stream_hist_quantile" -> ((s, dir) => {
      val binned = drainToFrame(s, eventsStream(s, dir)
        .withColumn("bin", least(lit(49L), floor(col("value") / 10).cast("long")))
        .groupBy(window(col("ts"), "1 hour"), col("bin"))
        .agg(count(lit(1)).as("n")),
        "mem_histq", "complete")
        .select(unix_timestamp(col("window.start")).as("w_start_s"),
          col("bin"), col("n"))
      val wW = Window.partitionBy(col("w_start_s")).orderBy(col("bin"))
      val tot = Window.partitionBy(col("w_start_s"))
      binned
        .withColumn("cum", sum(col("n")).over(
          wW.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("nt", sum(col("n")).over(tot))
        .groupBy(col("w_start_s"))
        .agg(max(col("nt")).as("n"),
          (min(when(col("cum") * 2 >= col("nt"), col("bin"))) * 10.0).as("p50_edge"),
          (min(when(col("cum") * 20 >= col("nt") * 19, col("bin"))) * 10.0).as("p95_edge"))
        .orderBy(col("w_start_s"))
    }),

    // Windowed pivot — the wide per-window metrics row every streaming
    // dashboard reads (one row per hour, one column per event type).
    // Structured Streaming rejects `.pivot` on a streaming frame, so the
    // production workaround IS the operator: conditional aggregation
    // against the known type catalog (exact integer counts per column,
    // one stateful agg — same state size as the long-format rollup but
    // no downstream reshape). Catalog changes are schema changes here,
    // which is what a dashboard contract wants anyway — the columns
    // derive from Tables.EventTypes (the generator's closed catalog), so
    // a type added there grows the row rather than silently leaking into
    // n_total only; StreamingSpec pins Σ n_<type> == n_total.
    "stream_windowed_pivot" -> ((s, dir) => {
      val perType = EventTypes.map(et =>
        sum(when(col("event_type") === et, 1L).otherwise(0L)).as(s"n_$et"))
      drainToFrame(s, eventsStream(s, dir)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(perType.head, perType.tail :+ count(lit(1)).as("n_total"): _*),
        "mem_wpivot", "complete")
        .select(unix_timestamp(col("window.start")).as("w_start_s") +:
          (EventTypes.map(et => col(s"n_$et")) :+ col("n_total")): _*)
        .orderBy(col("w_start_s"))
    }),

    // Streaming rate-anomaly alert — the monitoring read every streaming
    // rollup feeds (collect windowed counts continuously, flag the
    // windows whose volume is statistically off): the STREAM side is a
    // plain hourly tumbling count (exactly-once through the same
    // complete-mode memory sink as the other windows); the ALERT side
    // is a deterministic batch read over the materialized table —
    // per-type moments from EXACT integer window counts, z per window
    // as one mirrored double tree, |z| > 2 flags. nullif guards a
    // constant series (sd = 0 → NULL z, no alert).
    "stream_rate_alert" -> ((s, dir) => {
      val hourly = drainToFrame(s, eventsStream(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n")),
        "mem_rate_alert", "complete")
        .select(unix_timestamp(col("window.start")).as("w_start_s"),
          col("event_type"), col("n"))
      // moments from a RENAMED projection: both sides read the same
      // memory-sink view, and an un-aliased self-join trips conflicting-
      // attribute resolution on the view's output
      val mom = hourly.select(col("event_type").as("et2"), col("n").as("n2"))
        .groupBy(col("et2"))
        .agg(count(lit(1)).as("k"), sum(col("n2")).as("sn"),
          sum(col("n2") * col("n2")).as("qn"))
      val mu = col("sn").cast("double") / col("k")
      val sd = sqrt((col("k") * col("qn") - col("sn") * col("sn"))
        .cast("double") / (col("k") * (col("k") - 1)))
      hourly.join(broadcast(mom), col("event_type") === col("et2"))
        .select(col("w_start_s"), col("event_type"), col("n"),
          round((col("n").cast("double") - mu) / nullif(sd, lit(0.0)), 6)
            .as("z"))
        .withColumn("alert", abs(col("z")) > 2.0)
        .orderBy(col("w_start_s"), col("event_type"))
    }),

    "stream_sliding" -> ((s, dir) => {
      drainToFrame(s, eventsStream(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("v")),
        "mem_sliding", "complete")
        .select(unix_timestamp(col("window.start")).as("w_start_s"),
          col("event_type"), col("n"), col("v"))
        .orderBy(col("w_start_s"), col("event_type"))
    }),

    "stream_session" -> ((s, dir) => {
      drainToFrame(s, eventsStream(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events")),
        "mem_session", "complete")
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("sess_start_s"),
          unix_timestamp(col("session_window.end")).as("sess_end_s"),
          col("n_events"))
        .orderBy(col("user_id"), col("sess_start_s"))
    }),

    "stream_watermark" -> ((s, dir) => {
      drainToFrame(s, eventsStream(s, dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n")),
        "mem_watermark", "update")
        .select(unix_timestamp(col("window.start")).as("w_start_s"),
          col("event_type"), col("n"))
        .orderBy(col("w_start_s"), col("event_type"))
    }),

    "stream_dedup" -> ((s, dir) => {
      drainToFrame(s, eventsStream(s, dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicates("event_id")
        .select(col("event_id"), col("event_type")),
        "mem_dedup", "append")
        .orderBy(col("event_id"))
    }),

    // Exact windowed distinct users — THE streaming-distinct pattern:
    // count(DISTINCT) isn't supported in a streaming agg, so the
    // canonical plan is watermark → dropDuplicates on (window-bucket,
    // type, user) — keyed dedup state, watermark-bounded — then an
    // ordinary windowed count of the deduped stream. State is
    // hash-partitioned by the dedup key and expires with the watermark;
    // at scale this is exactly how per-window DAU/uniques run.
    // FIXTURE COUPLING: the oracle is an exact batch count(DISTINCT), but
    // dropDuplicates state is bounded by the 10-minute watermark — an
    // event arriving >10 min out of order after its dedup state expired
    // would be re-counted and silently diverge. StreamingSpec asserts the
    // events fixture's max disorder (arrival-order ts regression) stays
    // under the watermark, so a generator change that adds later data
    // trips a test instead of a silent oracle drift.
    "stream_distinct_users" -> ((s, dir) => {
      drainToFrame(s, eventsStream(s, dir)
        .withWatermark("ts", "10 minutes")
        .select(window(col("ts"), "5 minutes").as("w"),
          col("event_type"), col("user_id"))
        .dropDuplicates("w", "event_type", "user_id")
        .groupBy(col("w"), col("event_type"))
        .agg(count(lit(1)).as("n_users")),
        "mem_distinct_users", "complete")
        .select(unix_timestamp(col("w.start")).as("w_start_s"),
          col("event_type"), col("n_users"))
        .orderBy(col("w_start_s"), col("event_type"))
    }),

    // stream-static join: the micro-batch stream enriched against a static
    // dimension (the connector pattern: incoming feed ⋈ reference data).
    // The static side is broadcast into every micro-batch.
    "stream_static_join" -> ((s, dir) => {
      drainToFrame(s, {
        val dim = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        eventsStream(s, dir)
          .join(broadcast(dim), col("user_id") === col("c_custkey"), "inner")
          .groupBy(col("c_mktsegment"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"))
      }, "mem_static_join", "complete")
        .orderBy(col("c_mktsegment"), col("event_type"))
    }),

    // arbitrary keyed state via mapGroupsWithState: per-user running
    // counter + latest event type, the custom-state surface
    // (KeyValueGroupedDataset) the north star names explicitly. The fold is
    // order-insensitive (count + strict max on (ts, event_id)), so no
    // in-batch sort is needed for determinism.
    "stream_custom_state" -> ((s, dir) => {
      drainToFrame(s, {
        import s.implicits._
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
        val src = eventsStream(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"))
          .as[(Long, Long, String, Long)]
        src.groupByKey(_._2)
          .mapGroupsWithState[(Long, String, Long, Long), (Long, Long, String)](
            GroupStateTimeout.NoTimeout) {
            case (uid, rows, state: GroupState[(Long, String, Long, Long)]) =>
              var (n, lastType, lastTs, lastId) =
                state.getOption.getOrElse((0L, "", Long.MinValue, Long.MinValue))
              rows.foreach { r =>
                n += 1
                if (r._4 > lastTs || (r._4 == lastTs && r._1 > lastId)) {
                  lastType = r._3; lastTs = r._4; lastId = r._1
                }
              }
              state.update((n, lastType, lastTs, lastId))
              (uid, n, lastType)
          }
          .toDF("user_id", "n_events", "last_type")
      // single-file source → one micro-batch → one update row per user
      }, "mem_custom_state", "update")
        .orderBy(col("user_id"))
    }),

    // stream-stream interval join: each click paired with the same user's
    // purchases within the following 5 minutes. BOTH sides are unbounded,
    // so this is the genuinely stateful join: watermarks bound how long a
    // side's rows are retained, and the time-range conjunct is what lets
    // the engine evict state — an equi-join without it would buffer both
    // streams forever. State is hash-partitioned by user_id, the same
    // shuffle a batch join would use, so it scales like the batch twin.
    "stream_stream_join" -> ((s, dir) => {
      drainToFrame(s, {
        val clicks = eventsStream(s, dir)
          .filter(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
            col("ts").as("c_ts"))
          .withWatermark("c_ts", "10 minutes")
        val purchases = eventsStream(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "10 minutes")
        clicks.join(purchases,
          col("c_user") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 5 MINUTES"))
          .select(col("c_id"), col("p_id"), col("c_user"),
            unix_timestamp(col("c_ts")).as("c_ts_s"))
      }, "mem_ss_join", "append")
        .orderBy(col("c_id"), col("p_id"))
    }),

    // foreachBatch upsert (the MongoDB-load analogue, README.md:24,:29):
    // two micro-batches — original events, then a corrected re-send of
    // every 5th event — merged key-wise into a parquet "collection";
    // replay is idempotent (latest batch wins per event_id).
    "stream_upsert_sink" -> ((s, dir) => {
      val inDir = stageUpsertInput(s, dir)
      // per-run collection, fresh every invocation (the replay IS the query)
      val tgtDir = graft.Scratch.fixture(s, "tgt", dir)
      FileUtils.deleteQuietly(tgtDir.toFile)
      val stream = s.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType), StructField("user_id", LongType),
          StructField("event_type", StringType), StructField("value", DoubleType))))
        .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
        .parquet(inDir.toString)
      drain(s, "upsert", stream.writeStream.outputMode("append")
        .foreachBatch((batch: DataFrame, batchId: Long) => upsertBatch(batch, tgtDir, batchId)))
      s.read.parquet(tgtDir.toString)
        .select(col("event_id"), col("event_type"), round(col("value"), 6).as("value"))
        .orderBy(col("event_id"))
    }))

  // the streams replay a bounded file source to completion, so their
  // results are deterministic relational functions of `events` — each gets
  // a direct DuckDB oracle (the win_*_batch twins pin the same shapes).
  private val sessionized =
    """(SELECT user_id, us,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       FROM (
         SELECT user_id, event_id, epoch_us(ts) AS us,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
                  OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000
                THEN 1
                WHEN lag(epoch_us(ts), 1)
                  OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
                THEN 1 ELSE 0 END AS new_sess
         FROM events))"""

  val oracles: Map[String, String] = Map(
    "stream_topk" ->
      """WITH hourly AS (
           SELECT (epoch_us(ts) // 3600000000) * 3600 AS w_start_s,
                  event_type, count(1) AS n
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT w_start_s, event_type, n,
                  row_number() OVER (PARTITION BY w_start_s
                    ORDER BY n DESC, event_type) AS rk
           FROM hourly)
         SELECT w_start_s, CAST(rk AS INT) AS rk, event_type, n
         FROM r WHERE rk <= 3 ORDER BY w_start_s, rk""",
    "stream_tumbling" ->
      """SELECT (epoch_us(ts) // 300000000) * 300 AS w_start_s, event_type,
         count(1) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v
         FROM events GROUP BY 1, 2 ORDER BY w_start_s, event_type""",
    "stream_hist_quantile" ->
      """WITH b AS (
           SELECT (epoch_us(ts) // 3600000000) * 3600 AS w_start_s,
                  least(49, CAST(floor(value / 10) AS BIGINT)) AS bin,
                  count(1) AS n
           FROM events GROUP BY 1, 2),
         c AS (
           SELECT w_start_s, bin, n,
                  sum(n) OVER (PARTITION BY w_start_s ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                  sum(n) OVER (PARTITION BY w_start_s) AS nt
           FROM b)
         SELECT w_start_s, CAST(max(nt) AS BIGINT) AS n,
                min(CASE WHEN cum * 2 >= nt THEN bin END) * 10.0 AS p50_edge,
                min(CASE WHEN cum * 20 >= nt * 19 THEN bin END) * 10.0 AS p95_edge
         FROM c GROUP BY w_start_s ORDER BY w_start_s""",
    "stream_windowed_pivot" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600 AS w_start_s,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
         count(1) AS n_total
         FROM events GROUP BY 1 ORDER BY w_start_s""",
    "stream_rate_alert" ->
      """WITH hourly AS (
           SELECT (epoch_us(ts) // 3600000000) * 3600 AS w_start_s, event_type,
                  CAST(count(1) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         mom AS (
           SELECT event_type, count(1) AS k,
                  CAST(sum(n) AS BIGINT) AS sn,
                  CAST(sum(n * n) AS BIGINT) AS qn
           FROM hourly GROUP BY event_type),
         z AS (
           SELECT w_start_s, h.event_type, n,
                  round((CAST(n AS DOUBLE) - CAST(sn AS DOUBLE) / k) /
                        nullif(sqrt(CAST(k * qn - sn * sn AS DOUBLE)
                                    / (k * (k - 1))), 0.0), 6) AS z
           FROM hourly h JOIN mom m ON h.event_type = m.event_type)
         SELECT w_start_s, event_type, n, z, abs(z) > 2.0 AS alert
         FROM z ORDER BY w_start_s, event_type""",
    "stream_distinct_users" ->
      """SELECT (epoch_us(ts) // 300000000) * 300 AS w_start_s, event_type,
         count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1, 2 ORDER BY w_start_s, event_type""",
    "stream_sliding" ->
      """SELECT ((epoch_us(ts) // 300000000) - i) * 300 AS w_start_s, event_type,
         count(1) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v
         FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i)
         GROUP BY 1, 2 ORDER BY w_start_s, event_type""",
    // session_window.end = last event ts + the 30-minute gap
    "stream_session" ->
      s"""SELECT user_id,
         min(us) // 1000000 AS sess_start_s,
         (max(us) + 1800000000) // 1000000 AS sess_end_s,
         count(1) AS n_events
         FROM $sessionized
         GROUP BY user_id, sid ORDER BY user_id, sess_start_s""",
    // single-file replay → one micro-batch → nothing is late: the update
    // stream materializes exactly the complete tumbling counts
    "stream_watermark" ->
      """SELECT (epoch_us(ts) // 300000000) * 300 AS w_start_s, event_type,
         count(1) AS n
         FROM events GROUP BY 1, 2 ORDER BY w_start_s, event_type""",
    // event_id is unique in the synthetic events table, so dedup is the
    // identity projection (the duplicate-injection path is unit-tested)
    "stream_dedup" ->
      """SELECT event_id, event_type FROM events ORDER BY event_id""",
    // batch 2 re-sends every 5th id with value × 2 and wins the merge
    "stream_upsert_sink" ->
      """SELECT event_id, event_type,
         round(CASE WHEN event_id % 5 = 0 THEN value * 2 ELSE value END, 6) AS value
         FROM events ORDER BY event_id""",
    "stream_static_join" ->
      """SELECT c_mktsegment, event_type, count(1) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY c_mktsegment, event_type
         ORDER BY c_mktsegment, event_type""",
    // bounded replay ⇒ the interval join equals its batch twin exactly
    "stream_stream_join" ->
      """SELECT c.event_id AS c_id, p.event_id AS p_id,
         c.user_id AS c_user, epoch_us(c.ts) // 1000000 AS c_ts_s
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND epoch_us(p.ts) >= epoch_us(c.ts)
          AND epoch_us(p.ts) <= epoch_us(c.ts) + 300000000
         ORDER BY c_id, p_id""",
    "stream_custom_state" ->
      """SELECT user_id, n_events, last_type FROM (
           SELECT user_id,
             count(1) OVER (PARTITION BY user_id) AS n_events,
             event_type AS last_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
           FROM events)
         WHERE rn = 1 ORDER BY user_id"""
  )
}
