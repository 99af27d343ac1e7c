package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.Files
import javax.imageio.ImageIO
import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** §2.I multimodal pipeline: REAL image decode over binary columns
  * (BASELINE.json north star "multimodal columns").
  *
  * The media kernels here are genuine `javax.imageio` PNG codec calls (the
  * JDK ships the codec — no external library): fixture documents are
  * rendered as deterministic RGB rasters, ENCODED to real PNG bytes, and
  * every downstream feature is computed from the RE-DECODED pixels. PNG is
  * lossless, so decoded pixels equal the generating pattern exactly — which
  * is what lets a DuckDB oracle check real-codec output bit-for-bit: the
  * oracle recomputes the same features from the pattern formula, and any
  * codec misuse (channel order, row stride, color model) breaks the hash.
  *
  * The Spark plumbing is the 100 TB shape for media: binary payloads flow
  * through a `binaryFile` scan (one blob per object-store key, the layout
  * multimodal corpora arrive in), decode runs as `mapPartitions` batches on
  * the executors (codecs are not Catalyst expressions — per-partition JVM
  * batches are the right altitude, the same batch shape `mapInPandas`/Arrow
  * gives Python codecs), outputs are typed structs, and nothing ever
  * collects to the driver.
  */
object Multimodal extends graft.Bank {

  /** Corpus-adaptive band count for mm_phash's banded hamming join
    * (VERDICT r14 item 2 — the fixed 4×16-bit banding was a capacity
    * constant of the LSH-planes class): 4 bands of 16 bits while
    * occ·2^15 ≥ n (2^15 = the top band's value space over the 63-bit
    * aHash), else 3 bands of 21 bits (2^21 buckets per band). Floor 3:
    * by pigeonhole, hamming ≤ 2 pairs agree on ≥ b−2 bands, so b ≥ 3
    * keeps the guaranteed-detection property — and makes the knob pure
    * capacity (the published pair set is identical at both settings;
    * only bucket fan-out changes). Past occ·2^20 docs the documented
    * scale path is a wider hash, like the 30-plane LSH cap. */
  private[graft] def phashBandCount(n: Long,
      occ: Long = graft.Knobs.PhashBandOccupancyDefault): Int =
    if ((occ << 15) >= n) 4 else 3

  // ---- deterministic raster pattern (shared contract with the oracle) ----
  // n = payload byte count; w in 8..16, h in 8..14; pixel idx = y*w + x:
  //   r = payload[idx % n]  g = (idx*31 + 7) % 256  b = (r + g) % 256
  private def dims(n: Int): (Int, Int) = (8 + n % 9, 8 + n % 7)

  /** Render the pattern and encode it through the REAL JDK PNG encoder. */
  def encodePng(textBytes: Array[Byte]): Array[Byte] = {
    val n = textBytes.length
    val (w, h) = dims(n)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < w * h) {
      val r = textBytes(i % n) & 0xff
      val g = (i * 31 + 7) % 256
      val b = (r + g) % 256
      img.setRGB(i % w, i / w, (r << 16) | (g << 8) | b)
      i += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  case class MediaFeat(doc_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long, histo: Array[Long])

  /** REAL decode: parse the PNG container, walk the decoded raster, and
    * reduce it to typed features (per-channel sums + a 16-bin red-channel
    * histogram). Lossless codec ⇒ oracle-exact. */
  def decodePng(docId: Long, png: Array[Byte]): MediaFeat = {
    val img = ImageIO.read(new ByteArrayInputStream(png))
    val w = img.getWidth; val h = img.getHeight
    var sr = 0L; var sg = 0L; var sb = 0L
    val histo = new Array[Long](16)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
        sr += r; sg += g; sb += b; histo(r / 16) += 1
        x += 1
      }
      y += 1
    }
    MediaFeat(docId, w, h, sr, sg, sb, histo)
  }

  case class DomColor(doc_id: Long, rk: Int, bin: Long, n_px: Long)

  /** REAL decode → 64-bin RGB-222 quantization (2 bits per channel,
    * bin = (r/64)·16 + (g/64)·4 + b/64) → top-3 bins by (count desc,
    * bin asc). The palette summary an image-curation pipeline keys its
    * near-solid/letterbox/duplicate screens on; per-image work, no
    * cross-image state. Lossless codec ⇒ oracle replays the bins from
    * the raster formula exactly (the mm_decode contract). */
  def dominantColors(docId: Long, png: Array[Byte]): Seq[DomColor] = {
    val img = ImageIO.read(new ByteArrayInputStream(png))
    val w = img.getWidth; val h = img.getHeight
    val bins = new Array[Long](64)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
        bins((r / 64) * 16 + (g / 64) * 4 + b / 64) += 1
        x += 1
      }
      y += 1
    }
    bins.zipWithIndex.filter(_._1 > 0)
      .sortBy { case (n, bin) => (-n, bin) }.take(3).zipWithIndex
      .map { case ((n, bin), i) => DomColor(docId, i + 1, bin.toLong, n) }.toSeq
  }

  case class Letterbox(doc_id: Long, n_border: Long, modal_bin: Long,
      modal_n: Long, uniformity: Double)

  /** REAL decode → border-frame palette concentration: the RGB-222 bin
    * counts over the image's 1-pixel border, the modal bin under a
    * (count desc, bin asc) total order, and uniformity = modal/|border|.
    * A letterboxed/pillarboxed or solid-padded image reads near 1.0 —
    * the crop-before-train screen an image-curation pipeline runs before
    * mm_resize bakes the padding into every thumbnail. Integer counts;
    * the one division rounds at 6 dp. */
  def letterboxStats(docId: Long, png: Array[Byte]): Letterbox = {
    val img = ImageIO.read(new ByteArrayInputStream(png))
    val w = img.getWidth; val h = img.getHeight
    val bins = new Array[Long](64)
    var nb = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if (x == 0 || x == w - 1 || y == 0 || y == h - 1) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
          bins((r / 64) * 16 + (g / 64) * 4 + b / 64) += 1
          nb += 1
        }
        x += 1
      }
      y += 1
    }
    val (mn, mb) = bins.zipWithIndex.map { case (n, b) => (n, b) }
      .maxBy { case (n, b) => (n, -b) }
    Letterbox(docId, nb, mb.toLong, mn,
      math.rint(mn.toDouble / nb * 1e6) / 1e6)
  }

  case class Thumb(doc_id: Long, width: Int, height: Int, thumb: Array[Long])

  /** REAL resize input: decode the PNG, then block-mean the red channel
    * onto a 4×4 thumbnail grid. Cell assignment is pixel-driven
    * (cx = x*4/w, cy = y*4/h) and the mean is an integer floor division —
    * both exactly mirrored by the oracle. Deliberately NOT
    * `Image.getScaledInstance`: AWT's filtered scalers are
    * platform-tunable, and a non-reproducible kernel cannot be oracled. */
  def resizePng(docId: Long, png: Array[Byte]): Thumb = {
    val img = ImageIO.read(new ByteArrayInputStream(png))
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Long](16); val cnts = new Array[Long](16)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val cell = (y * 4 / h) * 4 + (x * 4 / w)
        sums(cell) += (img.getRGB(x, y) >> 16) & 0xff
        cnts(cell) += 1
        x += 1
      }
      y += 1
    }
    Thumb(docId, w, h,
      Array.tabulate(16)(c => if (cnts(c) > 0) sums(c) / cnts(c) else 0L))
  }

  /** Decode + block-mean onto a 9×7 (63-cell) grid — mm_phash's hash
    * grain. 63 cells ⇒ a 63-BIT aHash: the r13 sf~1 rehearsal showed the
    * old 16-bit hash (4-bit bands, 16 possible values) makes band
    * buckets grow LINEARLY with the corpus and the candidate self-join
    * quadratically — 142 s at 50k docs vs 2.8 s at 5k. With 63 bits the
    * 15/16-bit band space (32k/64k values) keeps buckets near-constant
    * at corpus scale, the production aHash-LSH shape. 63 (not 64)
    * because bit 63 is the sign bit: DuckDB's `1::BIGINT << 63` raises
    * an overflow error, so the oracle could not replay a 64th cell.
    * The 9×7 grid matches the raster generator's dim ranges (w ∈ 8..16,
    * h ∈ 8..14). */
  def resizePng63(docId: Long, png: Array[Byte]): Thumb = {
    val img = ImageIO.read(new ByteArrayInputStream(png))
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Long](63); val cnts = new Array[Long](63)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val cell = (y * 7 / h) * 9 + (x * 9 / w)
        sums(cell) += (img.getRGB(x, y) >> 16) & 0xff
        cnts(cell) += 1
        x += 1
      }
      y += 1
    }
    Thumb(docId, w, h,
      Array.tabulate(63)(c => if (cnts(c) > 0) sums(c) / cnts(c) else 0L))
  }

  // ---- deterministic PCM pattern (shared contract with the oracle) ----
  // n = payload byte count; N = 1024 + (n % 7) * 256 samples (always a
  // whole number of 256-sample frames); sample formula (Int16-safe):
  //   s_i = (payload[i % n] - 128) * 200 + (i * 31) % 256 - 128
  /** Synthesize the waveform and serialize it as REAL 16-bit little-endian
    * PCM bytes — the wire format raw audio arrives in. */
  def encodePcm(textBytes: Array[Byte]): Array[Byte] = {
    val n = textBytes.length
    val total = 1024 + (n % 7) * 256
    val bb = java.nio.ByteBuffer.allocate(total * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < total) {
      bb.putShort((((textBytes(i % n) & 0xff) - 128) * 200 + (i * 31) % 256 - 128).toShort)
      i += 1
    }
    bb.array()
  }

  case class ChannelStats(doc_id: Long, n_px: Int,
      sum_r: Long, ssq_r: Long, sum_g: Long, ssq_g: Long,
      sum_b: Long, ssq_b: Long)

  /** REAL decode → per-channel integer moments (Σ and Σ² per RGB channel)
    * — the normalization statistics an image-training pipeline computes
    * over its corpus before standardizing inputs. Integer sums from the
    * decoded raster; mean/std derive downstream in one double tree. */
  def channelStats(docId: Long, png: Array[Byte]): ChannelStats = {
    val img = ImageIO.read(new ByteArrayInputStream(png))
    val w = img.getWidth; val h = img.getHeight
    var sr = 0L; var qr = 0L; var sg = 0L; var qg = 0L; var sb = 0L; var qb = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
        sr += r; qr += r.toLong * r
        sg += g; qg += g.toLong * g
        sb += b; qb += b.toLong * b
        x += 1
      }
      y += 1
    }
    ChannelStats(docId, w * h, sr, qr, sg, qg, sb, qb)
  }

  case class SharpFeat(doc_id: Long, width: Int, height: Int,
      n_interior: Long, lap_sum: Long, lap_ssq: Long)

  /** REAL decode → 4-neighbor Laplacian integer moments over the interior
    * raster (Σlap, Σlap²) — the blur/flat-image gate an image-curation
    * pipeline runs (a defocused or synthetic-flat image has near-zero
    * Laplacian variance). Integer moments only; the variance derives
    * downstream in one double tree (channelStats' convention). */
  def analyzeSharpness(docId: Long, png: Array[Byte]): SharpFeat = {
    val img = ImageIO.read(new ByteArrayInputStream(png))
    val w = img.getWidth; val h = img.getHeight
    def r(x: Int, y: Int): Int = (img.getRGB(x, y) >> 16) & 0xff
    var s = 0L; var q = 0L; var cnt = 0L
    var y = 1
    while (y < h - 1) {
      var x = 1
      while (x < w - 1) {
        val lap = 4 * r(x, y) - r(x - 1, y) - r(x + 1, y) - r(x, y - 1) - r(x, y + 1)
        s += lap; q += lap.toLong * lap; cnt += 1
        x += 1
      }
      y += 1
    }
    SharpFeat(docId, w, h, cnt, s, q)
  }

  case class AudioFeat(doc_id: Long, n_samples: Int, n_frames: Int,
      peak: Int, max_energy: Long, max_frame: Int, mean_energy: Long)

  /** REAL PCM parse: sign-extend Int16 samples back out of the LE byte
    * stream, frame at 256 samples, and reduce to energy features — mean
    * square per frame (integer floor division, mirrored by the oracle),
    * arg-max frame with first-frame tie-break, global peak amplitude. */
  def analyzePcm(docId: Long, pcm: Array[Byte]): AudioFeat = {
    val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val total = pcm.length / 2
    val frames = total / 256
    var peak = 0; var totalSq = 0L; var maxE = -1L; var maxF = -1
    var f = 0
    while (f < frames) {
      var e = 0L; var i = f * 256
      val end = i + 256
      while (i < end) {
        val s = bb.getShort(i * 2).toInt
        if (math.abs(s) > peak) peak = math.abs(s)
        e += s.toLong * s
        i += 1
      }
      totalSq += e
      if (e / 256 > maxE) { maxE = e / 256; maxF = f }
      f += 1
    }
    AudioFeat(docId, total, frames, peak, maxE, maxF, totalSq / total)
  }

  case class LevelCount(doc_id: Long, n_px: Int, level: Int, cnt: Long)

  /** REAL decode → red-channel 256-level histogram, emitted level-grain so
    * the entropy fold itself stays in the engine (gridded decimal sum). */
  def redLevelCounts(docId: Long, png: Array[Byte]): Seq[LevelCount] = {
    val img = ImageIO.read(new ByteArrayInputStream(png))
    val w = img.getWidth; val h = img.getHeight
    val histo = new Array[Long](256)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        histo(((img.getRGB(x, y) >> 16) & 0xff)) += 1
        x += 1
      }
      y += 1
    }
    (0 until 256).filter(histo(_) > 0L)
      .map(l => LevelCount(docId, w * h, l, histo(l)))
  }

  case class SilenceFeat(doc_id: Long, n_frames: Int, n_silent: Int,
    n_runs: Int, longest_run: Int)

  /** Silence segmentation over the decoded PCM: a frame is "silent" iff
    * its energy is below the doc's mean frame energy, compared
    * cross-multiplied in exact integers (e·total < totalSq·256 — max
    * ~8·10¹⁴, inside Long) so no float threshold exists to diverge.
    * Runs are counted in one sequential pass over the ≤11 frames. */
  def analyzeSilence(docId: Long, pcm: Array[Byte]): SilenceFeat = {
    val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val total = pcm.length / 2
    val frames = total / 256
    val es = new Array[Long](frames)
    var totalSq = 0L
    var f = 0
    while (f < frames) {
      var e = 0L; var i = f * 256
      val end = i + 256
      while (i < end) {
        val s = bb.getShort(i * 2).toInt
        e += s.toLong * s
        i += 1
      }
      es(f) = e; totalSq += e
      f += 1
    }
    var nSilent = 0; var nRuns = 0; var longest = 0; var run = 0
    f = 0
    while (f < frames) {
      if (es(f) * frames < totalSq) {
        nSilent += 1; run += 1
        if (run > longest) longest = run
        if (run == 1) nRuns += 1
      } else run = 0
      f += 1
    }
    SilenceFeat(docId, frames, nSilent, nRuns, longest)
  }

  /** For `mm_decode`: each probe document rendered and PNG-encoded to a
    * standalone .png file — the on-disk shape multimodal corpora arrive in
    * (one image per object-store key). Driver-side loop is fine HERE
    * because it stages a 64-file fixture; at scale the files already
    * exist — ingestion starts at the binaryFile scan, which is fully
    * distributed. */
  val stagePngDocs = graft.Fixture("png") { (s, dir, out) =>
    Files.createDirectories(out)
    t(s, dir, "documents").filter(col("doc_id") < 64)
      .select(col("doc_id"), col("text")).collect()
      .foreach { r =>
        Files.write(out.resolve(f"doc_${r.getLong(0)}%05d.png"),
          encodePng(r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
  }

  val queries: Map[String, QFn] = Map(
    // staged .png files → binaryFile scan → REAL ImageIO decode on the
    // executors → typed features. The scan carries (path, content); doc
    // identity is recovered from the key, as in any object-store corpus.
    "mm_decode" -> ((s, dir) => {
      import s.implicits._
      val path = stagePngDocs(s, dir).toString
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png").load(path)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.png", 1)
            .cast("long").as("doc_id"),
          col("content"))
        .as[(Long, Array[Byte])]
      media.mapPartitions(_.map { case (id, png) => decodePng(id, png) })
        .toDF()
        // histogram serialized at the query boundary (the driver's pandas
        // compare cannot hash array cells); the typed form stays unit-tested
        .withColumn("histo", expr("array_join(transform(histo, x -> CAST(x AS STRING)), ',')"))
        .orderBy(col("doc_id"))
    }),

    // full-corpus path: every document rendered → PNG-ENCODED → RE-DECODED
    // → block-mean thumbnail, all inside one executor-side mapPartitions
    // batch (no staging, no driver hop) — the encode→decode round trip is
    // the real-codec proof that the features come from parsed pixels, not
    // from the generating arithmetic.
    "mm_resize" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
      media.mapPartitions(_.map { case (id, bytes) =>
          resizePng(id, encodePng(bytes)) })
        .toDF()
        .withColumn("thumb", expr("array_join(transform(thumb, x -> CAST(x AS STRING)), ',')"))
        .orderBy(col("doc_id"))
    }),

    // Dominant-palette summary — top-3 RGB-222 quantization bins per
    // image through the real encode→decode round trip (the near-solid /
    // letterbox / palette-duplicate screen an image-curation pipeline
    // runs beside mm_channel_stats' moments: moments can't tell "two
    // colors half-and-half" from "one mid-gray"). Integer bin counts
    // with an (n_px desc, bin) total order — engine-exact.
    "mm_dominant_color" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
      media.mapPartitions(_.flatMap { case (id, bytes) =>
          dominantColors(id, encodePng(bytes)) })
        .toDF()
        .orderBy(col("doc_id"), col("rk"))
    }),

    // Border-frame palette concentration (letterbox/pillarbox/solid-pad
    // screen): modal RGB-222 bin share over each image's 1-pixel border
    // through the real encode→decode round trip — near-1.0 uniformity
    // means padding that mm_resize would bake into every thumbnail.
    "mm_letterbox_detect" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
      media.mapPartitions(_.map { case (id, bytes) =>
          letterboxStats(id, encodePng(bytes)) })
        .toDF()
        .orderBy(col("doc_id"))
    }),

    // Per-channel normalization statistics (mean/std per RGB channel) —
    // what an image-training pipeline computes over its corpus before
    // standardizing inputs, through the SAME real encode→decode round
    // trip as mm_resize (features come from parsed pixels, not the
    // generating arithmetic). Integer Σ/Σ² per channel inside the
    // executor batch; mean/std one identical double tree per doc.
    "mm_channel_stats" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
      def ms(sum: String, ssq: String, m: String, sd: String) = Seq(
        round(col(sum).cast("double") / col("n_px"), 6).as(m),
        round(sqrt((col(ssq).cast("double") -
          col(sum).cast("double") * col(sum) / col("n_px")) / col("n_px")), 6)
          .as(sd))
      media.mapPartitions(_.map { case (id, bytes) =>
          channelStats(id, encodePng(bytes)) })
        .toDF()
        .select(Seq(col("doc_id"), col("n_px")) ++
          ms("sum_r", "ssq_r", "mean_r", "std_r") ++
          ms("sum_g", "ssq_g", "mean_g", "std_g") ++
          ms("sum_b", "ssq_b", "mean_b", "std_b"): _*)
        .orderBy(col("doc_id"))
    }),

    // audio member of the family: per-doc waveforms serialized to REAL
    // 16-bit LE PCM bytes, then parsed BACK from the byte stream inside the
    // same executor batch — framing, per-frame mean-square energy, arg-max
    // frame, peak amplitude. All-integer arithmetic, so the oracle replays
    // the formula exactly; a sign-extension or endianness mistake in the
    // parse breaks every energy value.
    "mm_audio_energy" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
      media.mapPartitions(_.map { case (id, bytes) =>
          analyzePcm(id, encodePcm(bytes)) })
        .toDF()
        .orderBy(col("doc_id"))
    }),

    // Laplacian sharpness — the blur/flat-image gate an image corpus
    // runs next to mm_channel_stats' normalization moments (defocused
    // or synthetic-flat images carry near-zero Laplacian variance):
    // REAL decode, 4-neighbor integer Laplacian over the interior
    // raster, variance derived downstream in one double tree. Scan-
    // grain per-object feature extraction — the embarrassing-parallel
    // 100 TB shape.
    "mm_sharpness" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
      media.mapPartitions(_.map { case (id, bytes) =>
          analyzeSharpness(id, encodePng(bytes)) })
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_interior"),
          round(col("lap_sum").cast("double") / col("n_interior"), 6)
            .as("lap_mean"),
          round((col("lap_ssq").cast("double") -
            col("lap_sum").cast("double") * col("lap_sum") / col("n_interior"))
            / col("n_interior"), 6).as("sharpness"))
        .orderBy(col("doc_id"))
    }),

    // Red-channel Shannon entropy per image — the information-content
    // gate beside mm_sharpness' blur variance (a compressed-noise or
    // synthetic-flat image fails on entropy even when its Laplacian
    // passes): REAL decode to a 256-level histogram emitted LEVEL-grain
    // from the executor batch, so the −Σ p·ln p fold runs in the engine
    // with each level's term 6-dp-gridded to DECIMAL before the
    // per-doc sum (the davg discipline — ln's last ulp can't ride into
    // the total). is_flat thresholds the gridded entropy at ln 2.
    "mm_image_entropy" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
      val lv = media.mapPartitions(_.flatMap { case (id, bytes) =>
          redLevelCounts(id, encodePng(bytes)) })
        .toDF()
      val p = col("cnt").cast("double") / col("n_px")
      lv.groupBy(col("doc_id"))
        .agg(max(col("n_px")).as("n_px"),
          count(lit(1)).as("n_levels"),
          sum(dec(round(negate(p) * log(p), 6))).as("ent"))
        .select(col("doc_id"), col("n_px"), col("n_levels"),
          col("ent").cast("double").as("entropy"),
          (col("ent").cast("double") < 0.693147).as("is_flat"))
        .orderBy(col("doc_id"))
    }),

    // Silence segmentation — the audio-curation gate next to
    // mm_audio_energy's level features (dead-air share and the longest
    // silent stretch decide whether a clip survives a speech corpus):
    // same decode→frame pipeline, threshold = doc mean frame energy
    // compared in exact integers (no float threshold to diverge), runs
    // counted in the per-doc sequential pass the codec already owns.
    // Scan-grain, embarrassingly parallel — the 100 TB shape is
    // per-object feature extraction, zero shuffle before the tiny sort.
    "mm_silence_detect" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
      media.mapPartitions(_.map { case (id, bytes) =>
          analyzeSilence(id, encodePcm(bytes)) })
        .toDF()
        .orderBy(col("doc_id"))
    }),

    // Perceptual-hash image dedup — the multimodal member of the near-dup
    // family: 63-bit aHash over the REAL encode→decode 9×7 thumbnail
    // (bit i set iff cell i beats the thumbnail mean, compared
    // cross-multiplied as 63·cellᵢ > Σcells — pure integers, no float
    // mean), then candidate pairs through 15/16-bit LSH bands
    // (hamming ≤ 2 ⇒ ≥ 2 of 4 bands equal, the pigeonhole guarantee —
    // the same banding math as MinHash-LSH) and an exact popcount
    // rerank. The band space is the scale lever (r13 sf~1 rehearsal):
    // the old 16-bit hash had 4-bit bands with only 16 possible values,
    // so buckets grew linearly with the corpus and the self-join
    // quadratically (142 s at 50k docs); 16-bit bands keep buckets
    // near-constant, the production aHash-LSH shape. The codec round
    // trip runs ONCE into a pinned hash frame; the band explode and
    // join read the cache. At 100 TB this is the image-corpus dedup
    // shape: per-image hash (embarrassing parallel) + banded bucket join.
    "mm_phash" -> ((s, dir) => phashFrame(s, dir)))

  /** mm_phash body — factored out so the spec can compare the collapse
    * gate's two branches directly.
    *
    * DIGEST-KEYED DECODE DEDUP + EXACT-DUP COLLAPSE (VERDICT r15
    * items 1+3): a 100×-copied crawl is >99% verbatim payloads — the
    * PNG round trip runs ONCE per distinct payload (keyed by its
    * sha2 digest; the min-doc_id member is the decode representative),
    * and the banded hamming join sees ONE row per distinct hash (equal
    * hashes collide in every band at any banding, so banding members
    * individually made pair work quadratic in copy-factor). Membership
    * re-expands relationally after the near-dup decision — the
    * published pair set is EXACTLY the per-doc formulation's:
    * same-hash docs pair at hamming 0; cross-hash doc pairs share a
    * band iff their hashes do, with the same hamming.
    *
    * The payload collapse is GATED on actual duplication
    * ([[graft.Tables.docCollapseGate]], optimization r16): a
    * duplicate-free corpus (every fixture/bench scale) decodes each doc
    * directly — the digest window + members persist + the members side
    * of the re-expansion join bought nothing there (~1 s/query at
    * sf0.1). The HASH-grain collapse (one banded row per distinct
    * phash) stays on in both branches: distinct payloads can still
    * share an aHash, and that collapse is hash-grain-cheap. */
  private[graft] def phashFrame(s: SparkSession, dir: String): DataFrame = {
      import s.implicits._
      // corpus-adaptive band count (Knobs r14 item 2): 4×16-bit bands up
      // to occ·2^15 docs, 3×21-bit beyond — result-IDENTICAL by the
      // pigeonhole (hamming ≤ 2 agrees on ≥ b−2 ≥ 1 bands at both
      // settings), only the bucket fan-out changes; see phashBandCount.
      // Capacity signal = DISTINCT content (the collapse bands one
      // row per distinct hash, so raw row count would over-provision).
      val nBands = phashBandCount(graft.Tables.distinctDocCount(s, dir),
        graft.Knobs.phashBandOccupancy(s))
      val bandBits = if (nBands == 4) 16 else 21
      val bandMask = (1L << bandBits) - 1
      val collapse = graft.Tables.docCollapseGate(s, dir)
      // gate ON: one payload-cluster representative decodes per distinct
      // digest; gate OFF: every doc IS its own representative (identity
      // members, no window, no persist)
      val membersOpt: Option[DataFrame] =
        if (!collapse) None
        else {
          val w = org.apache.spark.sql.expressions.Window.partitionBy(col("dig"))
          Some(persistShared("phash_members",
            t(s, dir, "documents")
              .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
              .withColumn("dig", sha2(col("payload"), 256))
              .withColumn("rep", min(col("doc_id")).over(w))
              .select(col("doc_id"), col("rep"),
                when(col("doc_id") === col("rep"), col("payload")).as("payload"))))
        }
      val media: org.apache.spark.sql.Dataset[(Long, Array[Byte])] =
        membersOpt match {
          case Some(members) => members.filter(col("doc_id") === col("rep"))
            .select(col("rep"), col("payload")).as[(Long, Array[Byte])]
          case None => t(s, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
            .as[(Long, Array[Byte])]
        }
      val hs = persistShared("phash_frame", media
        .mapPartitions(_.map { case (id, bytes) => resizePng63(id, encodePng(bytes)) })
        .toDF()
        .withColumn("stot", expr("aggregate(thumb, 0L, (a, x) -> a + x)"))
        .select(col("doc_id").as("rep"), expr(
          """aggregate(sequence(0, 62), 0L, (a, i) ->
             a + CASE WHEN thumb[i] * 63 > stot
                      THEN shiftleft(CAST(1 AS BIGINT), i) ELSE 0L END)""").as("phash")))
      // hash-grain collapse: one banded row per DISTINCT hash value
      val hreps = persistShared("phash_hreps",
        hs.groupBy(col("phash")).agg(min(col("rep")).as("hrep")))
      val bands = hreps.select(col("hrep"), col("phash"),
          explode(sequence(lit(0), lit(nBands - 1))).as("b"))
        .withColumn("bv", expr(s"shiftright(phash, CAST(b * $bandBits AS INT)) & $bandMask"))
      val repPairs = bands.as("a").join(bands.as("b"),
          col("a.b") === col("b.b") && col("a.bv") === col("b.bv") &&
            col("a.hrep") < col("b.hrep"))
        .select(col("a.hrep").as("ha"), col("b.hrep").as("hb"),
          col("a.phash").as("pa"), col("b.phash").as("pb")).distinct()
        .select(col("ha"), col("hb"),
          expr("CAST(bit_count(pa ^ pb) AS BIGINT)").as("hamming"))
        .filter(col("hamming") <= 2)
      // doc → distinct-hash representative, for relational re-expansion
      // (gate OFF: rep IS the doc_id, so hs ⋈ hreps already carries it)
      val d2h = persistShared("phash_doc2h",
        membersOpt match {
          case Some(members) => members
            .select(col("doc_id"), col("rep"))
            .join(hs, "rep").join(hreps, "phash")
            .select(col("doc_id"), col("hrep"))
          case None => hs.join(hreps, "phash")
            .select(col("rep").as("doc_id"), col("hrep"))
        })
      val cross = repPairs
        .join(d2h.select(col("hrep").as("ha"), col("doc_id").as("da")), "ha")
        .join(d2h.select(col("hrep").as("hb"), col("doc_id").as("db")), "hb")
        .select(least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
      val within = d2h.as("x").join(d2h.as("y"),
          col("x.hrep") === col("y.hrep") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          lit(0L).as("hamming"))
      cross.unionAll(within)
        .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
  }

  // The codec is lossless, so the oracle recomputes the features straight
  // from the raster pattern (the corpus is ASCII — verified at all SFs —
  // so DuckDB's per-char ord() equals the UTF-8 byte the raster embeds).
  // Any disagreement between these formulas and the Scala output means the
  // PNG round trip perturbed a pixel — i.e. the oracle checks the codec.
  val oracles: Map[String, String] = Map(
    "mm_decode" ->
      """WITH dims AS (
           SELECT doc_id, strlen(text) AS n,
                  8 + strlen(text) % 9 AS w, 8 + strlen(text) % 7 AS h, text
           FROM documents WHERE doc_id < 64),
         px0 AS (
           SELECT doc_id, n, w, h, text, unnest(range(0, w * h)) AS i FROM dims),
         px AS (
           SELECT doc_id, w, h,
                  CAST(ord(text[CAST(i % n AS INTEGER) + 1]) AS BIGINT) AS r,
                  (i * 31 + 7) % 256 AS g
           FROM px0),
         feat AS (
           SELECT doc_id, w, h,
                  CAST(SUM(r) AS BIGINT) AS sum_r,
                  CAST(SUM(g) AS BIGINT) AS sum_g,
                  CAST(SUM((r + g) % 256) AS BIGINT) AS sum_b,
                  list(r // 16) AS rbins
           FROM px GROUP BY 1, 2, 3)
         SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                sum_r, sum_g, sum_b,
                array_to_string(list_transform(range(0, 16),
                  k -> CAST(len(list_filter(rbins, x -> x = k)) AS VARCHAR)), ',') AS histo
         FROM feat ORDER BY doc_id""",
    "mm_letterbox_detect" ->
      """WITH dims AS (
           SELECT doc_id, strlen(text) AS n,
                  8 + strlen(text) % 9 AS w, 8 + strlen(text) % 7 AS h, text
           FROM documents),
         px0 AS (
           SELECT doc_id, n, w, h, text, unnest(range(0, w * h)) AS i FROM dims),
         px AS (
           SELECT doc_id,
                  CAST(ord(text[CAST(i % n AS INTEGER) + 1]) AS BIGINT) AS r,
                  (i * 31 + 7) % 256 AS g
           FROM px0
           WHERE i % w = 0 OR i % w = w - 1 OR i // w = 0 OR i // w = h - 1),
         bins AS (
           SELECT doc_id,
                  (r // 64) * 16 + (g // 64) * 4 + ((r + g) % 256) // 64 AS bin,
                  count(1) AS n_bin
           FROM px GROUP BY 1, 2),
         tot AS (SELECT doc_id, CAST(sum(n_bin) AS BIGINT) AS n_border
                 FROM bins GROUP BY 1),
         modal AS (
           SELECT doc_id, bin, n_bin FROM (
             SELECT doc_id, bin, n_bin,
                    row_number() OVER (PARTITION BY doc_id
                      ORDER BY n_bin DESC, bin) AS rk
             FROM bins) WHERE rk = 1)
         SELECT t.doc_id, t.n_border, CAST(m.bin AS BIGINT) AS modal_bin,
                CAST(m.n_bin AS BIGINT) AS modal_n,
                round(CAST(m.n_bin AS DOUBLE) / t.n_border, 6) AS uniformity
         FROM tot t JOIN modal m USING (doc_id) ORDER BY t.doc_id""",
    "mm_dominant_color" ->
      """WITH dims AS (
           SELECT doc_id, strlen(text) AS n,
                  8 + strlen(text) % 9 AS w, 8 + strlen(text) % 7 AS h, text
           FROM documents),
         px0 AS (
           SELECT doc_id, n, text, unnest(range(0, w * h)) AS i FROM dims),
         px AS (
           SELECT doc_id,
                  CAST(ord(text[CAST(i % n AS INTEGER) + 1]) AS BIGINT) AS r,
                  (i * 31 + 7) % 256 AS g
           FROM px0),
         bins AS (
           SELECT doc_id,
                  (r // 64) * 16 + (g // 64) * 4 + ((r + g) % 256) // 64 AS bin,
                  count(1) AS n_px
           FROM px GROUP BY 1, 2),
         rk AS (
           SELECT doc_id, bin, n_px,
                  row_number() OVER (PARTITION BY doc_id ORDER BY n_px DESC, bin) AS rk
           FROM bins)
         SELECT doc_id, CAST(rk AS INTEGER) AS rk, CAST(bin AS BIGINT) AS bin,
                CAST(n_px AS BIGINT) AS n_px
         FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""",
    "mm_channel_stats" ->
      """WITH dims AS (
           SELECT doc_id, strlen(text) AS n,
                  8 + strlen(text) % 9 AS w, 8 + strlen(text) % 7 AS h, text
           FROM documents),
         px0 AS (
           SELECT doc_id, n, w, h, text, unnest(range(0, w * h)) AS i FROM dims),
         px AS (
           SELECT doc_id, w * h AS npx,
                  CAST(ord(text[CAST(i % n AS INTEGER) + 1]) AS BIGINT) AS r,
                  (i * 31 + 7) % 256 AS g
           FROM px0),
         m AS (
           SELECT doc_id, max(npx) AS n_px,
                  CAST(sum(r) AS BIGINT) AS sum_r,
                  CAST(sum(r * r) AS BIGINT) AS ssq_r,
                  CAST(sum(g) AS BIGINT) AS sum_g,
                  CAST(sum(g * g) AS BIGINT) AS ssq_g,
                  CAST(sum((r + g) % 256) AS BIGINT) AS sum_b,
                  CAST(sum(((r + g) % 256) * ((r + g) % 256)) AS BIGINT) AS ssq_b
           FROM px GROUP BY doc_id)
         SELECT doc_id, CAST(n_px AS INTEGER) AS n_px,
                round(CAST(sum_r AS DOUBLE) / n_px, 6) AS mean_r,
                round(sqrt((CAST(ssq_r AS DOUBLE)
                  - CAST(sum_r AS DOUBLE) * sum_r / n_px) / n_px), 6) AS std_r,
                round(CAST(sum_g AS DOUBLE) / n_px, 6) AS mean_g,
                round(sqrt((CAST(ssq_g AS DOUBLE)
                  - CAST(sum_g AS DOUBLE) * sum_g / n_px) / n_px), 6) AS std_g,
                round(CAST(sum_b AS DOUBLE) / n_px, 6) AS mean_b,
                round(sqrt((CAST(ssq_b AS DOUBLE)
                  - CAST(sum_b AS DOUBLE) * sum_b / n_px) / n_px), 6) AS std_b
         FROM m ORDER BY doc_id""",
    "mm_image_entropy" ->
      """WITH dims AS (
           SELECT doc_id, strlen(text) AS n,
                  8 + strlen(text) % 9 AS w, 8 + strlen(text) % 7 AS h, text
           FROM documents),
         px0 AS (
           SELECT doc_id, n, w, h, text, unnest(range(0, w * h)) AS i FROM dims),
         px AS (
           SELECT doc_id, w * h AS npx,
                  CAST(ord(text[CAST(i % n AS INTEGER) + 1]) AS BIGINT) AS r
           FROM px0),
         lv AS (
           SELECT doc_id, max(npx) AS npx, r, count(1) AS cnt
           FROM px GROUP BY doc_id, r),
         m AS (
           SELECT doc_id, CAST(max(npx) AS INTEGER) AS n_px,
                  CAST(count(1) AS BIGINT) AS n_levels,
                  sum(CAST(round(-(CAST(cnt AS DOUBLE) / npx)
                    * ln(CAST(cnt AS DOUBLE) / npx), 6) AS DECIMAL(18,6))) AS ent
           FROM lv GROUP BY doc_id)
         SELECT doc_id, n_px, n_levels,
                CAST(ent AS DOUBLE) AS entropy,
                CAST(ent AS DOUBLE) < 0.693147 AS is_flat
         FROM m ORDER BY doc_id""",
    "mm_resize" ->
      """WITH dims AS (
           SELECT doc_id, strlen(text) AS n,
                  8 + strlen(text) % 9 AS w, 8 + strlen(text) % 7 AS h, text
           FROM documents),
         px0 AS (
           SELECT doc_id, n, w, h, text, unnest(range(0, w * h)) AS i FROM dims),
         px AS (
           SELECT doc_id, w, h, (i % w) AS x, (i // w) AS y,
                  CAST(ord(text[CAST(i % n AS INTEGER) + 1]) AS BIGINT) AS r
           FROM px0),
         cells AS (
           SELECT doc_id, w, h, (y * 4 // h) * 4 + (x * 4 // w) AS cell,
                  SUM(r) // COUNT(*) AS v
           FROM px GROUP BY 1, 2, 3, 4)
         SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                array_to_string(list(CAST(v AS VARCHAR) ORDER BY cell), ',') AS thumb
         FROM cells GROUP BY 1, 2, 3 ORDER BY doc_id""",
    "mm_audio_energy" ->
      """WITH dims AS (
           SELECT doc_id, strlen(text) AS n,
                  1024 + (strlen(text) % 7) * 256 AS total, text
           FROM documents),
         sm0 AS (
           SELECT doc_id, n, total, text, unnest(range(0, total)) AS i FROM dims),
         smp AS (
           SELECT doc_id, total, i // 256 AS f,
                  CAST((ord(text[CAST(i % n AS INTEGER) + 1]) - 128) * 200
                       + (i * 31) % 256 - 128 AS BIGINT) AS s
           FROM sm0),
         frames AS (
           SELECT doc_id, total, f, SUM(s * s) AS e, MAX(abs(s)) AS pk
           FROM smp GROUP BY 1, 2, 3),
         feat AS (
           SELECT doc_id, total, COUNT(*) AS n_frames, MAX(pk) AS peak,
                  CAST(SUM(e) // total AS BIGINT) AS mean_energy
           FROM frames GROUP BY 1, 2),
         maxf AS (
           SELECT doc_id, f, CAST(e // 256 AS BIGINT) AS max_energy,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY e // 256 DESC, f) AS rk
           FROM frames)
         SELECT d.doc_id, CAST(total AS INTEGER) AS n_samples,
                CAST(n_frames AS INTEGER) AS n_frames,
                CAST(peak AS INTEGER) AS peak, m.max_energy,
                CAST(m.f AS INTEGER) AS max_frame, mean_energy
         FROM feat d JOIN maxf m ON d.doc_id = m.doc_id AND m.rk = 1
         ORDER BY d.doc_id""",
    "mm_sharpness" ->
      """WITH dims AS (
           SELECT doc_id, strlen(text) AS n,
                  8 + strlen(text) % 9 AS w, 8 + strlen(text) % 7 AS h, text
           FROM documents),
         px AS (
           SELECT doc_id, n, w, h, text, unnest(range(0, w * h)) AS i FROM dims),
         interior AS (
           SELECT doc_id, w, h,
                  4 * ord(text[CAST(i % n AS INTEGER) + 1])
                    - ord(text[CAST((i - 1) % n AS INTEGER) + 1])
                    - ord(text[CAST((i + 1) % n AS INTEGER) + 1])
                    - ord(text[CAST((i - w) % n AS INTEGER) + 1])
                    - ord(text[CAST((i + w) % n AS INTEGER) + 1]) AS lap
           FROM px
           WHERE i % w >= 1 AND i % w <= w - 2
             AND i // w >= 1 AND i // w <= h - 2),
         m AS (
           SELECT doc_id, w, h, count(1) AS cnt,
                  CAST(sum(lap) AS BIGINT) AS s,
                  CAST(sum(lap * lap) AS BIGINT) AS q
           FROM interior GROUP BY 1, 2, 3)
         SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                CAST(cnt AS BIGINT) AS n_interior,
                round(CAST(s AS DOUBLE) / cnt, 6) AS lap_mean,
                round((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / cnt) / cnt, 6)
                  AS sharpness
         FROM m ORDER BY doc_id""",
    "mm_silence_detect" ->
      """WITH dims AS (
           SELECT doc_id, strlen(text) AS n,
                  1024 + (strlen(text) % 7) * 256 AS total, text
           FROM documents),
         sm0 AS (
           SELECT doc_id, n, total, text, unnest(range(0, total)) AS i FROM dims),
         smp AS (
           SELECT doc_id, i // 256 AS f,
                  CAST((ord(text[CAST(i % n AS INTEGER) + 1]) - 128) * 200
                       + (i * 31) % 256 - 128 AS BIGINT) AS s
           FROM sm0),
         frames AS (
           SELECT doc_id, f, SUM(s * s) AS e FROM smp GROUP BY 1, 2),
         fl AS (
           SELECT doc_id, f, e,
                  count(1) OVER (PARTITION BY doc_id) AS n_frames,
                  SUM(e) OVER (PARTITION BY doc_id) AS tot_e
           FROM frames),
         sil AS (
           SELECT doc_id, f,
                  f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS isl
           FROM fl WHERE e * n_frames < tot_e),
         runs AS (SELECT doc_id, isl, count(1) AS rl FROM sil GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, CAST(sum(rl) AS INTEGER) AS n_silent,
                  CAST(count(1) AS INTEGER) AS n_runs,
                  CAST(max(rl) AS INTEGER) AS longest_run
           FROM runs GROUP BY 1)
         SELECT d.doc_id, CAST(total // 256 AS INTEGER) AS n_frames,
                coalesce(a.n_silent, 0) AS n_silent,
                coalesce(a.n_runs, 0) AS n_runs,
                coalesce(a.longest_run, 0) AS longest_run
         FROM dims d LEFT JOIN agg a ON d.doc_id = a.doc_id
         ORDER BY d.doc_id""",
    "mm_phash" ->
      """WITH dims AS (
           SELECT doc_id, strlen(text) AS n,
                  8 + strlen(text) % 9 AS w, 8 + strlen(text) % 7 AS h, text
           FROM documents),
         px0 AS (
           SELECT doc_id, n, w, h, text, unnest(range(0, w * h)) AS i FROM dims),
         px AS (
           SELECT doc_id, w, h, (i % w) AS x, (i // w) AS y,
                  CAST(ord(text[CAST(i % n AS INTEGER) + 1]) AS BIGINT) AS r
           FROM px0),
         cells AS (
           SELECT doc_id, (y * 7 // h) * 9 + (x * 9 // w) AS cell,
                  SUM(r) // COUNT(*) AS v
           FROM px GROUP BY 1, 2),
         hs AS (
           SELECT doc_id,
                  CAST(sum(CASE WHEN v * 63 > s
                           THEN CAST(1 AS BIGINT) << CAST(cell AS INTEGER)
                           ELSE 0 END) AS BIGINT) AS phash
           FROM (SELECT doc_id, cell, v,
                        sum(v) OVER (PARTITION BY doc_id) AS s FROM cells)
           GROUP BY doc_id),
         bands AS (
           SELECT doc_id, b, (phash >> CAST(b * 16 AS INTEGER)) & 65535 AS bv, phash
           FROM hs, UNNEST(generate_series(0, 3)) AS t(b)),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.phash AS pa, b.phash AS pb
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
         FROM cand WHERE bit_count(xor(pa, pb)) <= 2
         ORDER BY hamming, doc_a, doc_b"""
  )
}
