package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables._

/** §2.I multimodal frame-sampling plumbing: treat the binary payload as a
  * frame container (fixed 256-byte frames standing in for video frames /
  * audio windows), sample every 4th frame, and emit per-frame metadata —
  * the Spark-side shape (binary slicing, HOF over frame index space,
  * deterministic per-frame digest) is exactly what a real codec-backed
  * sampler produces; only the digest (md5 over the frame bytes) stands in
  * for decode. Per-frame records are serialized `idx:digest:bytes` at the
  * query boundary so the driver's pandas compare can hash the column.
  *
  * Scale note: per-row HOFs inside codegen — no shuffle; frame sampling at
  * 100 TB is embarrassingly parallel over the scan.
  */
object MultimodalFrames extends graft.Bank {

  val queries: Map[String, QFn] = Map(
    "mm_frame_sample" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .withColumn("n_frames", ceil(octet_length(col("payload")) / 256.0).cast("int"))
        .withColumn("frames", expr(
          """transform(
               filter(sequence(0, greatest(n_frames, 1) - 1), i -> i % 4 = 0 AND i < n_frames),
               i -> concat(CAST(i AS STRING), ':',
                           md5(substring(payload, i * 256 + 1, 256)), ':',
                           CAST(octet_length(substring(payload, i * 256 + 1, 256)) AS STRING)))"""))
        .select(col("doc_id"), col("n_frames"),
          size(col("frames")).as("n_sampled"),
          concat_ws(";", col("frames")).as("sampled"))
        .orderBy(col("doc_id"))
    }),

    // scene-cut detection over the frame container (r16): the video-curation
    // screen that decides per-clip sampling rate (static footage → sparse
    // frames, rapid cutting → dense) and flags slideshow/static spam. Each
    // 64-byte frame gets a length-NORMALIZED content-density feature
    // (non-space per-mille — integer floor division, exact on both
    // engines; normalization keeps the partial last frame from reading as
    // a false cut), a cut = consecutive-frame density jump > 100‰. All
    // per-row codegen HOFs over the frame index space — scan-grain, zero
    // shuffle, embarrassingly parallel at 100 TB exactly like the sampler
    // above; a real codec drops in at the density-feature lambda.
    "mm_scene_cut" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("n_frames", ceil(length(col("text")) / 64.0).cast("int"))
        .withColumn("dens", expr(
          """case when n_frames >= 1
             then transform(sequence(0, n_frames - 1),
                  i -> (length(replace(substring(text, i * 64 + 1, 64), ' ', '')) * 1000)
                       div length(substring(text, i * 64 + 1, 64)))
             else array() end"""))
        .withColumn("jumps", expr(
          """case when n_frames >= 2
             then transform(sequence(1, n_frames - 1),
                  i -> abs(element_at(dens, i + 1) - element_at(dens, i)))
             else array() end"""))
        .select(col("doc_id"), col("n_frames"),
          size(expr("filter(jumps, x -> x > 100)")).as("n_cuts"),
          coalesce(array_max(col("jumps")), lit(0)).as("max_jump"),
          round(col("n_frames").cast("double") /
            (size(expr("filter(jumps, x -> x > 100)")) + 1), 6).as("mean_shot_len"))
        .orderBy(col("doc_id"))
    }))

  // oracle-expressible because the corpus is ASCII (verified at all SFs):
  // DuckDB's char-level substring/strlen equal the byte-level Spark ops,
  // and md5 hex digests agree for identical bytes.
  val oracles: Map[String, String] = Map(
    "mm_frame_sample" ->
      """WITH f AS (
           SELECT doc_id, CAST(ceil(strlen(text) / 256.0) AS INTEGER) AS n_frames, text
           FROM documents),
         g AS (
           SELECT doc_id, n_frames,
             list_transform(
               list_filter(range(0, CAST(greatest(n_frames, 1) AS BIGINT)), i -> i % 4 = 0 AND i < n_frames),
               i -> CAST(i AS VARCHAR) || ':' ||
                    md5(substring(text, CAST(i AS INTEGER) * 256 + 1, 256)) || ':' ||
                    CAST(strlen(substring(text, CAST(i AS INTEGER) * 256 + 1, 256)) AS VARCHAR)) AS frames
           FROM f)
         SELECT doc_id, n_frames, len(frames) AS n_sampled, array_to_string(frames, ';') AS sampled
         FROM g ORDER BY doc_id""",
    "mm_scene_cut" ->
      """WITH f AS (
           SELECT doc_id, CAST(ceil(strlen(text) / 64.0) AS INTEGER) AS n_frames, text
           FROM documents),
         d AS (
           SELECT doc_id, n_frames,
             CASE WHEN n_frames >= 1 THEN
               list_transform(range(0, CAST(n_frames AS BIGINT)),
                 i -> strlen(replace(substring(text, CAST(i AS INTEGER) * 64 + 1, 64), ' ', '')) * 1000
                      // strlen(substring(text, CAST(i AS INTEGER) * 64 + 1, 64)))
             ELSE [] END AS dens
           FROM f),
         j AS (
           SELECT doc_id, n_frames, dens,
             CASE WHEN n_frames >= 2 THEN
               list_transform(range(1, CAST(n_frames AS BIGINT)),
                 i -> abs(dens[CAST(i AS INTEGER) + 1] - dens[CAST(i AS INTEGER)]))
             ELSE [] END AS jumps
           FROM d)
         SELECT doc_id, n_frames,
           len(list_filter(jumps, x -> x > 100)) AS n_cuts,
           coalesce(list_max(jumps), 0) AS max_jump,
           round(CAST(n_frames AS DOUBLE) / (len(list_filter(jumps, x -> x > 100)) + 1), 6) AS mean_shot_len
         FROM j ORDER BY doc_id"""
  )
}
