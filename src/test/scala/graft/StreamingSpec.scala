package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** §2.H streaming semantics (SURVEY.md §5.2.4): MemoryStream-driven tests
  * for watermark late-data exclusion, stateful dedup, and equality of the
  * streaming windows with their oracled batch twins. */
class StreamingSpec extends SparkSuite {

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:$sec%02d")

  test("watermark drops late rows from the aggregation (append mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val agg = in.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(2), 1, "view", 1.0))
      q.processAllAvailable()
      // advance watermark far past the first window...
      in.addData(Ev(3, ts(60), 1, "view", 1.0))
      q.processAllAvailable()
      // ...then send a LATE row for the first window: must be dropped
      in.addData(Ev(4, ts(1), 1, "view", 1.0))
      q.processAllAvailable()
      in.addData(Ev(5, ts(120), 1, "view", 1.0)) // flush
      q.processAllAvailable()
      val first = spark.table("wm_test")
        .filter(col("window.start") === ts(0)).agg(sum("n")).head
      assert(first.getLong(0) === 2, "late row must not be counted")
    } finally q.stop()
  }

  test("streaming dedup by event_id keeps first occurrence only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val dd = in.toDF().withWatermark("ts", "10 minutes").dropDuplicates("event_id")
    val q = dd.writeStream.format("memory").queryName("dd_test")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(1), 1, "click", 2.0))
      q.processAllAvailable()
      in.addData(Ev(1, ts(2), 1, "view", 99.0)) // duplicate id, different payload
      q.processAllAvailable()
      val rows = spark.table("dd_test").collect()
      assert(rows.length === 2)
      assert(rows.filter(_.getLong(0) == 1).head.getDouble(4) === 1.0, "first wins")
    } finally q.stop()
  }

  test("custom state with EventTimeTimeout: idle keys expire at the watermark") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    // per-user running count via flatMapGroupsWithState; a user idle for
    // 5 minutes of EVENT time past their last event expires: the state is
    // removed and a tombstone (-count) row is emitted. Timeouts fire on
    // the batch AFTER the watermark passes the deadline (watermark lags
    // one batch by construction), which makes the test deterministic.
    val updated = in.toDF()
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts")).as[(Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val n = state.get
            state.remove()
            Iterator((uid, -n)) // expiry tombstone
          } else {
            val evs = rows.toSeq
            val n = state.getOption.getOrElse(0L) + evs.size
            state.update(n)
            state.setTimeoutTimestamp(evs.map(_._2.getTime).max + 5 * 60 * 1000L)
            Iterator((uid, n))
          }
      }.toDF("user_id", "n")
    val q = updated.writeStream.format("memory").queryName("timeout_test")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(2), 1, "view", 1.0),
        Ev(3, ts(0), 2, "view", 1.0))
      q.processAllAvailable() // counts: user1=2, user2=1; deadlines 7min / 5min
      in.addData(Ev(4, ts(60), 1, "view", 1.0))
      q.processAllAvailable() // watermark → 50min AFTER this batch; no expiry yet
      in.addData(Ev(5, ts(120), 1, "view", 1.0))
      q.processAllAvailable() // user2's 5min deadline < 50min watermark → expires
      val rows = spark.table("timeout_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows.count(_ == (2L, -1L)) === 1, s"user 2 must expire once, got $rows")
      assert(rows.filter(_._1 == 1L).map(_._2).sorted === Seq(2L, 3L, 4L),
        s"user 1 keeps counting, got $rows")
      assert(rows.filter(r => r._1 == 2L && r._2 > 0) === Seq((2L, 1L)),
        "no post-expiry rows for the idle user")
    } finally q.stop()
  }

  test("stream_windowed_pivot: per-type columns cover the catalog (rows sum to n_total)") {
    // ADVICE r13: a type outside the pivot's catalog would be counted in
    // n_total but in no per-type column, silently breaking the row sum.
    // The columns now derive from Tables.EventTypes; this pins the identity
    // so catalog drift (generator adds a type, constant not updated) fails
    // the suite instead of shipping an inconsistent dashboard row.
    val rows = q("stream_windowed_pivot").collect()
    assert(rows.nonEmpty, "pivot produced no windows")
    rows.foreach { r =>
      val perType = graft.Tables.EventTypes.map(et => r.getAs[Long](s"n_$et")).sum
      assert(perType === r.getAs[Long]("n_total"),
        s"window ${r.get(0)}: per-type sum $perType != n_total ${r.getAs[Long]("n_total")}")
    }
  }

  test("stream_tumbling equals its oracled batch twin") {
    val streamed = q("stream_tumbling").collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("win_tumbling_batch")(spark, sf).collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }

  test("an events directory of part files streams the same rows as the single file") {
    // the sf dir's events.parquet is a directory holding the unchanged
    // events file; every other table is linked
    import java.nio.file.{Files, Paths}
    val dirSf = graft.Scratch.fresh(spark, "sf_events_dir_")
    val l = Files.list(Paths.get(sf))
    val tables = try l.iterator.asScala.toVector finally l.close()
    tables.foreach { p =>
      val name = p.getFileName.toString
      if (name == "events.parquet") {
        Files.createDirectories(dirSf.resolve(name))
        Files.copy(p, dirSf.resolve(name).resolve("part-00000.parquet"))
      } else Files.createSymbolicLink(dirSf.resolve(name), p)
    }
    def rows(sfDir: String, name: String) =
      SparkEntry.queries(name)(spark, sfDir).collect().map(_.toSeq).toSeq
    Seq("stream_tumbling", "stream_static_join").foreach { n =>
      val want = rows(sf, n)
      assert(want.nonEmpty, n)
      assert(rows(dirSf.toString, n) === want, n)
    }
    def drained(sfDir: String, name: String): Long =
      graft.streaming.Streams.drainToFrame(spark,
        graft.streaming.Streams.eventsStream(spark, sfDir), name, "append").count()
    val n = drained(sf, "events_file")
    assert(n === graft.Tables.events(spark, sf).count())
    assert(drained(dirSf.toString, "events_dir") === n)
  }

  test("stream_sliding equals its oracled batch twin") {
    val streamed = q("stream_sliding").collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("win_sliding_batch")(spark, sf).collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }

  test("stream_session gap semantics match the windowed batch twin") {
    // same (user, session-count) profile: the batch twin sessionizes with
    // lag+cumsum at 30-minute gap; session_window must agree on counts
    val streamed = q("stream_session")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("win_session_batch")(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("stream_distinct_users: in-window duplicate users count once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val agg = in.toDF()
      .withWatermark("ts", "10 minutes")
      .select(window(col("ts"), "5 minutes").as("w"), col("event_type"), col("user_id"))
      .dropDuplicates("w", "event_type", "user_id")
      .groupBy(col("w"), col("event_type"))
      .agg(count(lit(1)).as("n_users"))
    val q0 = agg.writeStream.format("memory").queryName("sdu_test")
      .outputMode(OutputMode.Complete).start()
    try {
      // user 1 fires 3x in the same window, user 2 once; a second window
      // sees user 1 again (distinct per window, not global)
      in.addData(Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(1), 1, "view", 1.0),
        Ev(3, ts(2), 1, "view", 1.0), Ev(4, ts(2), 2, "view", 1.0),
        Ev(5, ts(6), 1, "view", 1.0))
      q0.processAllAvailable()
      val rows = spark.table("sdu_test")
        .select(col("w.start").cast("long").as("ws"), col("n_users")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows.values.toSeq.sorted === Seq(1L, 2L),
        s"expected windows with 2 and 1 distinct users, got $rows")
    } finally q0.stop()
  }

  test("stream_topk: per-window ranks are dense 1..k<=3 with non-increasing counts") {
    val rows = q("stream_topk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (w, g) =>
      val s = g.sortBy(_._2)
      assert(s.map(_._2).toSeq == (1 to s.length), s"ranks not dense in window $w")
      assert(s.length <= 3, s"more than 3 rows in window $w")
      s.toSeq.sliding(2).foreach {
        case Seq((_, _, n1), (_, _, n2)) => assert(n1 >= n2, s"counts not sorted in $w")
        case _ =>
      }
    }
  }

  test("stream_distinct_users: fixture disorder stays under the 10-minute watermark") {
    // the exact-batch oracle only holds while every event arrives before
    // its window's dedup state expires; the file source delivers rows in
    // generation (event_id) order, so the operative disorder bound is the
    // largest ts regression in that order — assert it under the 10-minute
    // watermark so a fixture/generator change surfaces here, not as a
    // silent count drift in the oracle compare. This is a guard on the
    // DRIVER-GENERATED fixtures only: the sf~1 rehearsal corpus is a
    // re-keyed ×10 APPEND of sf0.1 (whole month repeats per copy —
    // month-scale disorder by construction), where the equality test
    // still passes because the staged single file arrives as one
    // micro-batch; the premise guard is meaningless there.
    assume(sf.startsWith("/root/testdata/"),
      "disorder premise guard applies to the driver-generated fixtures only")
    val rows = graft.Tables.events(spark, sf)
      .select(col("event_id"), expr("unix_micros(ts)").as("tu"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var runMax = Long.MinValue; var worst = 0L
    rows.foreach { case (_, tu) =>
      if (runMax > tu && runMax - tu > worst) worst = runMax - tu
      if (tu > runMax) runMax = tu
    }
    assert(worst < 10L * 60 * 1000000,
      s"events fixture max disorder ${worst / 1e6}s >= the 10-minute watermark " +
        "— stream_distinct_users' exact-batch oracle no longer holds")
  }

  test("stream_distinct_users equals its exact batch twin") {
    val out = q("stream_distinct_users")
    val want = graft.Tables.events(spark, sf)
      .groupBy((expr("unix_micros(ts)") / 300000000L).cast("long") * 300,
        col("event_type"))
      .agg(countDistinct(col("user_id"))).count()
    assert(out.count() === want)
  }

  test("stream_dedup passes every distinct event exactly once") {
    val out = q("stream_dedup")
    assert(out.count() ===
      graft.Tables.events(spark, sf).select("event_id").distinct().count())
  }

  test("rest stream: mid-stream 429 kills the micro-batch; checkpoint restarts resume exactly-once") {
    // VERDICT r12 item 6: the batch connector's retry matrix is covered
    // by 53 unit tests, but the CONTINUOUS twin (stream_rest_ingest's
    // MicroBatchStream) had never seen a fault mid-stream. The stub's
    // 429once mode strikes the FIRST hit of every page; with
    // maxRetries=0 each strike becomes a reader exception that kills the
    // running micro-batch. Restarting from the same checkpoint must
    // resume at the committed offset (commits strictly advance across
    // incarnations — never reset to 0), and the parquet sink must hold
    // every stub record exactly once at the end: no loss from the killed
    // batches, no duplicates from the replanned ones.
    import java.nio.file.Files
    // SPARK_GRAFT_FAULT_PAGES scales the stream length (default 4 pages
    // of 50): the sf~1 rehearsal replays this same fault matrix at 10×
    // pages — 40 committed micro-batches, ~40 mid-stream kills — to
    // prove checkpoint resume holds beyond toy stream length (VERDICT
    // r13 item 4)
    val faultPages = sys.env.getOrElse("SPARK_GRAFT_FAULT_PAGES", "4").toInt
    val stub = graft.sources.RestStubServer.start(totalRows = faultPages * 50L)
    val root = Scratch.fresh(spark, "graft_rest_ckpt")
    val ckpt = root.resolve("ckpt").toString
    val outDir = root.resolve("out").toString
    def committedBatches: Long = {
      val d = java.nio.file.Paths.get(ckpt, "commits")
      if (!Files.isDirectory(d)) 0L
      else {
        val listing = Files.list(d)
        try listing.filter(p => p.getFileName.toString.forall(_.isDigit)).count()
        finally listing.close()
      }
    }
    def runOnce(): Boolean = { // true = crashed mid-stream
      val q = spark.readStream.format("graft.sources.RestSource")
        .option("url", stub.url).option("pages", faultPages.toString).option("pageSize", "50")
        .option("pagesPerTrigger", "1").option("maxRetries", "0")
        .option("failMode", "429once")
        .load()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try { q.processAllAvailable(); q.stop(); false }
      catch { case _: Throwable =>
        try q.stop() catch { case _: Throwable => () }
        true
      }
    }
    try {
      var crashes = 0
      var runs = 0
      var committedBefore = -1L
      val maxRuns = faultPages * 3
      while (runOnce() && runs < maxRuns) {
        runs += 1; crashes += 1
        val c = committedBatches
        assert(c >= committedBefore,
          s"committed offsets went BACKWARDS across restart: $committedBefore -> $c")
        committedBefore = c
      }
      assert(runs < maxRuns, s"stream never completed after $maxRuns restarts")
      assert(crashes >= 2,
        s"fault injection never struck mid-stream (crashes=$crashes) — the test lost its teeth")
      val got = spark.read.parquet(outDir).select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(got.toSeq === (0L until faultPages * 50L),
        s"exactly-once across ${crashes} killed batches: got ${got.length} rows, " +
          s"first/last ${got.headOption}/${got.lastOption}")
    } finally stub.stop()
  }

  test("rest at production page counts: long chain + stream survive 429/5xx bursts with bounded micro-batches and monotone offsets") {
    // VERDICT r15 item 6: the 40-page exactly-once matrix is green; this
    // pushes the connector toward production page counts. Default 400
    // pages keeps the dev suite fast; SPARK_GRAFT_REST_SCALE_PAGES=10000
    // is the rehearsal setting (recorded in the round's SCALE JSON).
    // Faults: the stub's 429burst25 mode strikes the first hit of every
    // 25th page, alternating 429 (Retry-After: 0) and 500 — retryable
    // intermittent throttling, the long-chain profile where per-page
    // 429once (one restart per page) stops being the realistic shape.
    import java.nio.file.Files
    val pages = sys.env.getOrElse("SPARK_GRAFT_REST_SCALE_PAGES", "400").toInt
    val pageSize = 20
    val stub = graft.sources.RestStubServer.start(totalRows = pages.toLong * pageSize)
    try {
      // (a) the CURSOR CHAIN at scale — batch walk (cursor chains are
      // batch-only by design: an opaque cursor is not a replayable
      // streaming offset), ids exactly-once across every injected burst
      val chain = spark.read.format("graft.sources.RestSource")
        .option("url", stub.url + "?paging=cursor")
        .option("paginationMode", "cursor")
        .option("pageSize", pageSize.toString)
        .option("maxRetries", "4")
        .option("failMode", "429burst25")
        .load()
      val chainIds = chain.select(col("event_id")).collect().map(_.getLong(0)).sorted
      assert(chainIds.toSeq === (0L until pages.toLong * pageSize),
        s"cursor chain exactly-once at $pages pages: got ${chainIds.length} rows")
      // (b) the STREAM at scale under admission control: 50 pages per
      // trigger, bursts retried inside the reader (no restarts needed),
      // micro-batch count bounded by the admission-control contract and
      // committed offsets strictly monotone
      val root = Scratch.fresh(spark, "graft_rest_scale")
      val ckpt = root.resolve("ckpt").toString
      val outDir = root.resolve("out").toString
      val perTrigger = 50
      val q = spark.readStream.format("graft.sources.RestSource")
        .option("url", stub.url).option("pages", pages.toString)
        .option("pageSize", pageSize.toString)
        .option("pagesPerTrigger", perTrigger.toString)
        .option("maxRetries", "4")
        .option("failMode", "429burst25")
        .load()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.read.parquet(outDir).select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(got.toSeq === (0L until pages.toLong * pageSize),
        s"stream exactly-once at $pages pages: got ${got.length} rows")
      // Spark purges offset files beyond minBatchesToRetain (default
      // 100), so at 10k pages only the TAIL of the log survives — assert
      // over the retained (index, offset) window and recover the batch
      // count from the last batch INDEX, which survives purging
      val offDir = java.nio.file.Paths.get(ckpt, "offsets")
      val listing = Files.list(offDir)
      val offs = try listing
        .filter(p => p.getFileName.toString.forall(_.isDigit))
        .toArray(new Array[java.nio.file.Path](_)).toSeq
        .sortBy(_.getFileName.toString.toInt)
        .map(p => (p.getFileName.toString.toInt,
          Files.readAllLines(p).get(2).trim.toInt))
      finally listing.close()
      assert(offs.map(_._2) === offs.map(_._2).sorted &&
        offs.map(_._2).distinct === offs.map(_._2),
        s"committed page offsets must be strictly monotone: $offs")
      assert(offs.last._2 === pages, s"final offset must drain the API: ${offs.last}")
      // bounded micro-batches: every retained advance ≤ the admission-
      // control grant (consecutive indices only), and the total batch
      // count matches the contract's ceil(pages/grant)
      val steps = offs.sliding(2).collect {
        case Seq((i1, o1), (i2, o2)) if i2 == i1 + 1 => o2 - o1
      }.toSeq
      assert(steps.nonEmpty && steps.forall(_ <= perTrigger),
        s"a micro-batch exceeded the admission-control grant: $steps")
      assert(offs.last._1 + 1 === (pages + perTrigger - 1) / perTrigger,
        s"micro-batch count off contract: ${offs.last._1 + 1}")
    } finally stub.stop()
  }

  test("checkpoint recovery: restart resumes committed offsets exactly once") {
    import java.nio.file.Files
    import spark.implicits._
    val root = Scratch.fresh(spark, "graft_ckpt")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    val ckpt = root.resolve("ckpt").toString
    val outDir = root.resolve("out").toString
    def stage(name: String, vals: Seq[Long]): Unit = {
      val tmp = root.resolve(s"stage_$name")
      vals.toDF("v").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part = try listing.filter(_.toString.endsWith(".parquet")).findFirst().get
        finally listing.close()
      Files.move(part, srcDir.resolve(name))
    }
    def runOnce(): Unit = {
      val q = spark.readStream.schema("v LONG").parquet(srcDir.toString)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    stage("f1.parquet", Seq(1L, 2L, 3L))
    runOnce() // first incarnation commits f1's offset to the checkpoint
    stage("f2.parquet", Seq(4L, 5L))
    runOnce() // RESTART from the same checkpoint: must process ONLY f2
    val out = spark.read.parquet(outDir).as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 2L, 3L, 4L, 5L),
      s"exactly-once across restart, got ${out.toSeq}")
  }

  test("checkpoint recovery: windowed-agg STATE survives restart (counts merge)") {
    // the offsets test above proves no refetch; this proves the state
    // store itself recovers: a window OPEN at shutdown (rows seen, not
    // yet past the watermark) must keep its partial count across the
    // restart and merge rows arriving in the second incarnation. Lost
    // state would emit count 2 for the 00:20 window instead of 3.
    import java.nio.file.Files
    import spark.implicits._
    val root = Scratch.fresh(spark, "graft_ckpt_state")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    val ckpt = root.resolve("ckpt").toString
    val outDir = root.resolve("out").toString
    def stage(name: String, ts: Seq[String]): Unit = {
      val tmp = root.resolve(s"stage_$name")
      ts.toDF("s").selectExpr("to_timestamp(s) AS ts")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part = try listing.filter(_.toString.endsWith(".parquet")).findFirst().get
        finally listing.close()
      Files.move(part, srcDir.resolve(name))
    }
    def runOnce(): Unit = {
      val q = spark.readStream.schema("ts TIMESTAMP").parquet(srcDir.toString)
        .withWatermark("ts", "5 minutes")
        .groupBy(window(col("ts"), "10 minutes")).agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("window.start")).as("w"), col("n"))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    // f1: finalizes the 00:00 window (count 2) and leaves the 00:20
    // window OPEN with one buffered row when the query stops
    stage("f1.parquet", Seq(
      "2024-01-01 00:01:00", "2024-01-01 00:02:00", "2024-01-01 00:21:00"))
    runOnce()
    // f2 after RESTART: two more 00:20-window rows + an advancer that
    // pushes the watermark past 00:30 so the window finalizes
    stage("f2.parquet", Seq(
      "2024-01-01 00:22:00", "2024-01-01 00:23:00", "2024-01-01 00:41:00"))
    runOnce()
    val out = spark.read.parquet(outDir).as[(Long, Long)].collect().sortBy(_._1)
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    assert(out.toSeq === Seq((base, 2L), (base + 1200, 3L)),
      s"recovered state must merge to (00:00->2, 00:20->3), got ${out.toSeq}")
  }

  test("upsertBatch rewrites only touched partitions; others byte-identical") {
    import java.nio.file.{Files, Path}
    import spark.implicits._
    val tgt = Scratch.fresh(spark, "graft_upsert").resolve("tgt")
    def listDir(d: Path, pred: Path => Boolean): Seq[Path] = {
      val l = Files.list(d)
      try l.filter(p => pred(p)).toArray(new Array[Path](_)).toSeq.sortBy(_.toString)
      finally l.close()
    }
    def snapshot(): Map[String, Seq[(String, String)]] =
      listDir(tgt, _.getFileName.toString.startsWith("_pk=")).map { d =>
        d.getFileName.toString -> listDir(d, _.toString.endsWith(".parquet")).map { f =>
          f.getFileName.toString -> java.util.HexFormat.of().formatHex(
            java.security.MessageDigest.getInstance("MD5").digest(Files.readAllBytes(f)))
        }
      }.toMap
    val cols = Seq("event_id", "user_id", "event_type", "value")
    val b1 = (0L until 64L).map(i => (i, i, "view", 1.0)).toDF(cols: _*)
    graft.streaming.Streams.upsertBatch(b1, tgt, 0L)
    val before = snapshot()
    assert(before.size === graft.streaming.Streams.PK_BUCKETS)
    // keys 3 and 19 both hash to bucket 3 — exactly one partition touched
    val b2 = Seq((3L, 3L, "view", 9.0), (19L, 19L, "click", 9.0)).toDF(cols: _*)
    graft.streaming.Streams.upsertBatch(b2, tgt, 1L)
    val after = snapshot()
    before.keys.filter(_ != "_pk=3").foreach { k =>
      assert(after(k) === before(k), s"partition $k must be byte-identical")
    }
    assert(after("_pk=3") !== before("_pk=3"), "touched partition must be rewritten")
    val byId = spark.read.parquet(tgt.toString)
      .select(col("event_id"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId.size === 64 && byId(3L) === 9.0 && byId(19L) === 9.0 && byId(4L) === 1.0)
  }

  test("upsertBatch pins the bucket count to the TARGET: marker written at create, conf mismatch fails loudly, legacy dirs derive") {
    import java.nio.file.Files
    import spark.implicits._
    val cols = Seq("event_id", "user_id", "event_type", "value")
    val b1 = (0L until 64L).map(i => (i, i, "view", 1.0)).toDF(cols: _*)
    val tgt = Scratch.fresh(spark, "graft_upsert_marker").resolve("tgt")
    graft.streaming.Streams.upsertBatch(b1, tgt, 0L)
    // create wrote the layout's bucket count WITH the target
    assert(Files.readString(tgt.resolve("_PK_BUCKETS")).trim.toInt ===
      graft.streaming.Streams.PK_BUCKETS)
    // a later merge under a RETUNED conf must fail loudly, not silently
    // re-key the layout and prune resident rows out of the merge read
    spark.conf.set(graft.Knobs.UpsertPkBucketsKey, "8")
    val b2 = Seq((3L, 3L, "view", 9.0)).toDF(cols: _*)
    val e = intercept[IllegalArgumentException] {
      try graft.streaming.Streams.upsertBatch(b2, tgt, 1L)
      finally spark.conf.unset(graft.Knobs.UpsertPkBucketsKey)
    }
    assert(e.getMessage.contains("buckets=16") && e.getMessage.contains("=8"))
    // legacy target (no marker): count derives from the _pk= dirs on
    // first touch and the marker is backfilled
    Files.delete(tgt.resolve("_PK_BUCKETS"))
    graft.streaming.Streams.upsertBatch(b2, tgt, 1L)
    assert(Files.readString(tgt.resolve("_PK_BUCKETS")).trim.toInt ===
      graft.streaming.Streams.PK_BUCKETS)
    val byId = spark.read.parquet(tgt.toString)
      .select(col("event_id"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId.size === 64 && byId(3L) === 9.0 && byId(4L) === 1.0)
    // legacy derivation is populated-buckets-only, so it rounds up to
    // the next power of two (ADVICE r15): a skewed legacy target whose
    // top buckets are empty must derive the true pow2 layout, not the
    // under-count that would silently re-key the merge
    val skewed = Scratch.fresh(spark, "graft_upsert_skew")
    Seq(0, 3, 7, 12).foreach(i => Files.createDirectories(skewed.resolve(s"_pk=$i")))
    assert(graft.streaming.Streams.pkBucketsOf(skewed) === Some(16))
    Seq(0, 5).foreach(i => Files.createDirectories(skewed.resolve(s"_pk=2$i")))
    assert(graft.streaming.Streams.pkBucketsOf(skewed) === Some(32))
  }

  test("checkpointed foreachBatch upsert: restart resumes batch ids, merges exactly once") {
    import java.nio.file.Files
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val root = Scratch.fresh(spark, "graft_upsert_ckpt")
    val src = root.resolve("src"); Files.createDirectories(src)
    val ckpt = root.resolve("ckpt").toString
    val tgt = root.resolve("tgt")
    val cols = Seq("event_id", "user_id", "event_type", "value")
    def stage(name: String, rows: Seq[(Long, Long, String, Double)]): Unit = {
      val tmp = root.resolve(s"stage_$name")
      rows.toDF(cols: _*).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val l = Files.list(tmp)
      val part = try l.filter(_.toString.endsWith(".parquet")).findFirst().get finally l.close()
      Files.move(part, src.resolve(name))
    }
    def run(): Unit = {
      val q = spark.readStream
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(src.toString)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch((b: DataFrame, id: Long) => graft.streaming.Streams.upsertBatch(b, tgt, id))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    stage("0.parquet", (0L until 10L).map(i => (i, i, "view", 1.0)))
    run() // first incarnation: batch 0 lands, offset committed
    stage("1.parquet", Seq((3L, 3L, "view", 9.0), (7L, 7L, "click", 9.0)))
    run() // RESTART: must process only file 1, as batch id 1
    val out = spark.read.parquet(tgt.toString)
      .select(col("event_id"), col("value"), col("_batch")).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(out.size === 10, "no duplicated keys across restart")
    assert(out(3L) === ((9.0, 1L)) && out(7L) === ((9.0, 1L)),
      "corrections applied with the RESUMED batch id (1, not reset to 0)")
    assert(out(0L) === ((1.0, 0L)), "untouched keys keep their original batch")
  }

  test("stream_upsert_sink: corrected batch overwrites, others untouched") {
    val out = q("stream_upsert_sink").cache()
    val raw = graft.Tables.events(spark, sf)
      .select(col("event_id"), round(col("value"), 6).as("value"))
    assert(out.count() === raw.count(), "upsert must not duplicate keys")
    val joined = out.alias("o").join(raw.alias("r"), "event_id")
      .select(col("event_id"), col("o.value").as("got"), col("r.value").as("orig"))
    val corrected = joined.filter(col("event_id") % 5 === 0)
    val untouched = joined.filter(col("event_id") % 5 =!= 0)
    assert(corrected.filter(abs(col("got") - col("orig") * 2) > 1e-6).count() === 0)
    assert(untouched.filter(col("got") =!= col("orig")).count() === 0)
    out.unpersist()
  }

  test("stream_dedup_near: cross-batch and in-batch near-dups drop; chain heads resolve via store") {
    import java.nio.file.Files
    val textA = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val textB = "structured streaming joins watermark state stores micro batches and checkpoints"
    val textC = "an entirely different document about parquet column pruning and predicate pushdown"
    val inDir = Scratch.fresh(spark, "graft_sdn_test_")
    def stage(name: String, mtime: Long, rows: Seq[(Long, String)]): Unit = {
      import spark.implicits._
      val tmp = inDir.resolve(name + "_stage")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part = try listing.filter(_.toString.endsWith(".parquet"))
        .findFirst().orElseThrow() finally listing.close()
      Files.move(part, inDir.resolve(name))
      Files.setLastModifiedTime(inDir.resolve(name),
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    // batch 0: two distinct docs; batch 1: copies of both (cross-batch,
    // must drop against the STORE), one fresh doc, and an in-batch copy
    // of that fresh doc (keep-first within the batch)
    stage("0_batch.parquet", 1000000L, Seq(1L -> textA, 2L -> textB))
    stage("1_batch.parquet", 2000000L,
      Seq(11L -> textA, 12L -> textB, 13L -> textC, 14L -> textC))
    val out = graft.streaming.StreamDedup.run(spark, inDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(out.keySet === Set(1L, 2L, 11L, 12L, 13L, 14L))
    assert(out(1L) === ((0L, true, -1L)) && out(2L) === ((0L, true, -1L)),
      "batch-0 docs are all kept")
    assert(out(11L) === ((1L, false, 1L)), "cross-batch dup of doc 1 via the store")
    assert(out(12L) === ((1L, false, 2L)), "cross-batch dup of doc 2 via the store")
    assert(out(13L) === ((1L, true, -1L)), "fresh doc in batch 1 survives")
    assert(out(14L) === ((1L, false, 13L)), "in-batch dup yields to the smaller kept id")
  }

  test("stream_dedup_near: an exact-copy burst collapses to one signature; decisions keep the per-doc shape") {
    // VERDICT r15 item 1, streaming member: a crawl-ingest batch full of
    // verbatim copies must do rep-grain band work (one signature per
    // distinct text) yet publish per-doc decisions identical to the
    // per-doc formulation — every copy yields to the cluster minimum,
    // a LATER batch of the same boilerplate yields to the stored head,
    // and an in-batch near-dup CLUSTER (not just a near-dup doc) yields
    // cluster-to-cluster with each member resolving to the smallest
    // qualifying id.
    import java.nio.file.Files
    import spark.implicits._
    val runDir = Scratch.fresh(spark, "graft_sdn_burst_")
    val store = runDir.resolve("store"); val out = runDir.resolve("out")
    val boiler = "subscribe to our newsletter terms of service privacy policy all rights reserved"
    val near = boiler.replace("newsletter", "mailing list") // near-dup of boiler
    // batch 0: 6-copy boilerplate cluster (ids 5..10) + a 2-copy cluster
    // of its near-dup (ids 2, 3 — BELOW the boiler cluster's min) + one
    // unrelated doc
    val b0 = ((5L to 10L).map(i => (i, boiler)) ++
      Seq((2L, near), (3L, near),
        (40L, "completely unrelated content about shuffle partitions"))).toDF("doc_id", "text")
    graft.streaming.StreamDedup.processBatch(b0, 0L, store, out)
    // batch 1: the same boilerplate again (3 more copies)
    val b1 = Seq((101L, boiler), (102L, boiler), (103L, boiler)).toDF("doc_id", "text")
    graft.streaming.StreamDedup.processBatch(b1, 1L, store, out)
    val m = spark.read.parquet(out.toString).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("kept"),
          Option(r.getAs[Any]("dup_of")).map(_.asInstanceOf[Long]).getOrElse(-1L)))).toMap
    assert(m.size === 12)
    assert(m(2L) === ((true, -1L)), "near cluster's rep (global min) survives")
    assert(m(3L) === ((false, 2L)), "near cluster's copy yields to its rep")
    // whether the boiler cluster collides with the near cluster is a
    // banding fact — recover it from the engine's own decision for the
    // boiler rep and assert every member is CONSISTENT with it
    val boilerRepDup = m(5L)._2
    assert(boilerRepDup === -1L || boilerRepDup === 2L,
      s"boiler rep either survives or yields to the near cluster's rep: $boilerRepDup")
    val expectMemberDup = if (boilerRepDup == -1L) 5L else 2L
    (6L to 10L).foreach(i => assert(m(i) === ((false, expectMemberDup)),
      s"copy $i must yield to the smallest qualifying id"))
    assert(m(40L) === ((true, -1L)))
    // batch-1 copies all resolve to the STORED head of the boiler chain
    val storedHead = if (boilerRepDup == -1L) 5L else 2L
    Seq(101L, 102L, 103L).foreach(i => assert(m(i) === ((false, storedHead)),
      s"later boilerplate burst must yield to the stored chain head, got ${m(i)}"))
    // and the store never holds more than one signature set per distinct
    // surviving text: rep-grain band rows only
    val stored = spark.read.parquet(store.toString)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(stored.subsetOf(Set(2L, 5L, 40L)),
      s"only cluster reps' signatures may enter the store: $stored")
  }

  test("stream_dedup_near: a replayed micro-batch is idempotent, no self-contamination") {
    import java.nio.file.Files
    import spark.implicits._
    val runDir = Scratch.fresh(spark, "graft_sdn_replay_")
    val store = runDir.resolve("store"); val out = runDir.resolve("out")
    val b0 = Seq((1L, "aaa bbb ccc ddd eee fff"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val b1 = Seq((11L, "aaa bbb ccc ddd eee fff"),
      (13L, "totally new content here now ok")).toDF("doc_id", "text")
    graft.streaming.StreamDedup.processBatch(b0, 0L, store, out)
    graft.streaming.StreamDedup.processBatch(b1, 1L, store, out)
    // simulate a checkpoint-restart replay of batch 1: the partition
    // overwrite + batch<id store pruning must make it a clean no-op
    graft.streaming.StreamDedup.processBatch(b1, 1L, store, out)
    val res = spark.read.parquet(out.toString).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("kept"), Option(r.getAs[Any]("dup_of")).map(_.asInstanceOf[Long]).getOrElse(-1L))))
    assert(res.length === 4, s"replay must not duplicate decisions: ${res.toSeq}")
    val m = res.toMap
    assert(m(1L)._1 && m(2L)._1, "batch-0 docs kept")
    assert(m(11L) === ((false, 1L)), "replayed batch still drops against EARLIER batches")
    assert(m(13L) === ((true, -1L)), "replay must not self-contaminate: fresh doc stays kept")
  }

  test("stream_dedup_near: the retention horizon bounds the dedup state like a watermark") {
    import java.nio.file.Files
    import spark.implicits._
    val runDir = Scratch.fresh(spark, "graft_sdn_retain_")
    val store = runDir.resolve("store"); val out = runDir.resolve("out")
    val textA = "aaa bbb ccc ddd eee fff ggg hhh"
    def pb(id: Long, rows: Seq[(Long, String)]): Unit =
      graft.streaming.StreamDedup.processBatch(
        rows.toDF("doc_id", "text"), id, store, out, retainBatches = 1L)
    pb(0L, Seq(1L -> textA))
    pb(1L, Seq(2L -> "unrelated content in the middle batch here"))
    // batch 2: textA again — its original (batch 0) is OUTSIDE the 1-batch
    // horizon, so the dup is NOT caught (bounded state trades recall for
    // a state size independent of stream lifetime, exactly like a
    // watermark trades late-data recall for bounded windows)
    pb(2L, Seq(3L -> textA))
    // batch 3: textA once more — now doc 3 (batch 2) IS inside the horizon
    pb(3L, Seq(4L -> textA))
    val m = spark.read.parquet(out.toString).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("kept"), Option(r.getAs[Any]("dup_of")).map(_.asInstanceOf[Long]).getOrElse(-1L)))).toMap
    assert(m(3L) === ((true, -1L)), "dup of an EXPIRED signature is kept (horizon passed)")
    assert(m(4L) === ((false, 3L)), "dup within the horizon attributes to the in-horizon copy")
  }

  test("stream_dedup_near registered query: decisions cover every doc exactly once") {
    val out = q("stream_dedup_near").cache()
    val nDocs = graft.Tables.t(spark, sf, "documents").count()
    assert(out.count() === nDocs, "one decision per document")
    assert(out.select(countDistinct(col("doc_id"))).head.getLong(0) === nDocs)
    // representative discipline: every drop names another doc in the
    // corpus; the representative is either KEPT, or a member of the same
    // batch's keep-first chain (whose own head was kept or store-dropped)
    val dec = out.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    dec.foreach { case (id, (b, kept, dup)) =>
      if (!kept) {
        assert(dup >= 0 && dup != id, s"doc $id: drop without a representative")
        assert(dec.contains(dup), s"doc $id: dup_of $dup not in the corpus")
        val (db, dkept, _) = dec(dup)
        assert(dkept || db == b,
          s"doc $id → $dup: representative must be kept or a same-batch chain member")
      }
    }
    out.unpersist()
  }

  test("stream_dedup under the RocksDB state store matches the default provider") {
    // the default HDFS-backed store keeps keyed state on the executor
    // heap — fine at fixture scale, an OOM at 100 TB keyed-state scale.
    // RocksDBStateStoreProvider (in-box since Spark 3.2) spills state to
    // local SST files and is the production answer for large state; this
    // pins that the dedup pipeline is provider-agnostic: byte-identical
    // decisions under both stores.
    def run(provider: Option[String], name: String): Seq[(Long, String)] = {
      val scoped = org.apache.spark.sql.graftbridge.Bridge.cloneSession(spark)
      scoped.conf.set("spark.sql.shuffle.partitions", "8")
      provider.foreach(
        scoped.conf.set("spark.sql.streaming.stateStore.providerClass", _))
      val q = graft.streaming.Streams.eventsStream(scoped, sf)
        .withWatermark("ts", "10 minutes")
        .dropDuplicates("event_id")
        .select(col("event_id"), col("event_type"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      scoped.table(name).orderBy(col("event_id"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    }
    val rocks = run(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      "mem_dedup_rocksdb")
    val default = run(None, "mem_dedup_default")
    assert(rocks.nonEmpty)
    assert(rocks === default)
  }

  test("every stream_* replay reports its progress to the caller's session") {
    // a replay started on a clone reports to the clone's listeners only,
    // so a caller (Bench, perfbench's trace) would see none of its
    // micro-batches. QueryStartedEvent reaches local listeners
    // synchronously; progress arrives on the listener bus, hence eventually.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    val started = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    val progressed = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.put(e.runId, Option(e.name).getOrElse(""))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progressed.add(e.progress.runId)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    val block = SparkEntry.queries.keys.filter(_.startsWith("stream_")).toSeq.sorted
    assert(block.size >= 16, s"streaming block shrank? $block")
    spark.streams.addListener(listener)
    try {
      val runIds = block.map { name =>
        val before = started.keySet.asScala.toSet
        q(name).collect()
        name -> (started.keySet.asScala.toSet -- before)
      }
      eventually(timeout(Span(30, Seconds))) {
        val blind = runIds.collect { case (n, ids) if !ids.exists(progressed.contains) => n }
        assert(blind.isEmpty, s"no progress reached the caller's session from: $blind")
      }
    } finally spark.streams.removeListener(listener)
    // a memory sink registers a temp view named after its query
    val sinks = started.values.asScala.filter(_.nonEmpty).toSet
    val views = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && sinks(t.name)).map(_.name)
    assert(views.isEmpty, s"replays left memory-sink views: ${views.mkString(", ")}")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === width)
  }

  test("the FULL streaming block matches under the RocksDB state store") {
    // provider parity for EVERY registered stream_* query (VERDICT r14
    // item 5 — parity covered 4 members through r14; the sfscale1
    // rehearsal ran the default provider only). The default HDFS-backed
    // store keeps keyed state on the executor heap; RocksDB spills to
    // local SST files and is the production answer at 100 TB keyed-state
    // scale — so the WHOLE block must be provider-agnostic: identical
    // results under both stores. The replays run at their session's
    // shuffle width, so the block must also give the same results at
    // widths 1 and 3 as at the default. Runs at SPARK_GRAFT_TEST_SF_DIR,
    // so the sfscale1 replay exercises it at 10x event density for free.
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    def run(name: String, confs: (String, String)*): Seq[String] = {
      val scoped = org.apache.spark.sql.graftbridge.Bridge.cloneSession(spark)
      confs.foreach { case (k, v) => scoped.conf.set(k, v) }
      SparkEntry.queries(name)(scoped, sf).collect().map(_.toString).toSeq
    }
    val variants = Seq(
      "the RocksDB provider" -> ("spark.sql.streaming.stateStore.providerClass" -> rocks),
      "shuffle width 1" -> ("spark.sql.shuffle.partitions" -> "1"),
      "shuffle width 3" -> ("spark.sql.shuffle.partitions" -> "3"))
    val block = SparkEntry.queries.keys.filter(_.startsWith("stream_")).toSeq.sorted
    assert(block.size >= 14, s"streaming block shrank? $block")
    val failures = block.flatMap { name =>
      try {
        val d = run(name)
        if (d.isEmpty) Seq(s"$name: empty result")
        else variants.collect {
          case (label, conf) if run(name, conf) != d => s"$name: $label changed the results"
        }
      } catch { case e: Throwable => Seq(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
