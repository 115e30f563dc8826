package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P12: multimodal (image/audio/video) column plumbing with a REAL
  * decode path.
  *
  * Design: media payloads are opaque `binary` columns with typed metadata
  * (kind/width/height/sample_rate). Each payload is a genuine 8×4 24-bit
  * BMP file (standard 54-byte header + bottom-up BGR pixel array) whose
  * pixel bytes are derived deterministically from the document text, and
  * the decode step really decodes it — `javax.imageio` parses the header
  * and raster exactly as it would any uncompressed BMP from disk. The
  * determinism is only in how the test payloads are GENERATED, which is
  * what lets the DuckDB oracle recompute the expected pixel bytes and
  * hash-match features computed from the decoded raster.
  *
  * Scale: decode/featurize run in mapPartitions (narrow, no shuffle —
  * and the partition-at-a-time shape is where a codec/model handle is
  * amortized); frame explode multiplies rows by frame count and is
  * immediately reduced by the per-frame aggregate; batched scoring
  * streams each partition through fixed-size batches — the exact shape
  * GPU inference needs.
  */
object MultimodalOps {

  /** JVM-wide, once: ImageIO's default read path spools EVERY input
    * stream through a disk cache file — for the codec queries' per-row
    * in-memory payloads that is a temp-file create/write/delete per
    * image, thousands per task. Memory-backed streams decode the same
    * bytes without touching the filesystem. Referenced by every
    * decodeWithImageIO/decodeBmp call; lazy so each executor JVM pays
    * the static setter exactly once. */
  private[multimodal] lazy val imageIoNoCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Append exactly `f"$b%02x"` without allocating a java.util.Formatter
    * per byte — the raster-hex loops call this once per pixel byte
    * (hundreds of thousands of calls per task). Out-of-range values fall
    * back to the formatter so the rendering is identical by cases. */
  private[multimodal] def appendHex2(sb: StringBuilder, b: Int): StringBuilder =
    if (b >= 0 && b < 256) sb.append(HexDigits(b >> 4)).append(HexDigits(b & 0xf))
    else sb.append(f"$b%02x")

  val BmpWidth = 8
  val BmpHeight = 4
  val PixelBytes: Int = BmpWidth * BmpHeight * 3   // 96 (row stride 24 — no padding)

  /** Standard BITMAPFILEHEADER + BITMAPINFOHEADER for a w×h 24bpp
    * bottom-up BMP — what any bitmap writer would emit. (Callers keep
    * row strides multiple-of-4 so no padding enters the raster.) */
  private[multimodal] def bmpHeaderFor(w: Int, h: Int): Array[Byte] = {
    val bytes = w * h * 3
    val bb = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte)
      .putInt(54 + bytes).putShort(0).putShort(0).putInt(54)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(bytes).putInt(2835).putInt(2835).putInt(0).putInt(0)
    bb.array()
  }

  private[multimodal] lazy val bmpHeader: Array[Byte] =
    bmpHeaderFor(BmpWidth, BmpHeight)

  /** 96 deterministic pixel bytes as hex: a chained md5 of the text
    * (6 × 16 bytes). DuckDB replays this exactly. */
  private[multimodal] def pixelHex(text: Column): Column =
    concat(md5(text), md5(concat(text, lit("1"))), md5(concat(text, lit("2"))),
           md5(concat(text, lit("3"))), md5(concat(text, lit("4"))),
           md5(concat(text, lit("5"))))

  /** Derive a deterministic media table from documents: each payload is a
    * COMPLETE BMP file (header + pixels), with typed metadata columns. */
  def mediaFromDocuments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(
      $"doc_id".as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        ($"doc_id" % 3 + 1).cast("int")).as("kind"),
      concat(lit(bmpHeader), unhex(pixelHex($"text"))).as("payload"),
      lit(BmpWidth).as("width"), lit(BmpHeight).as("height"),
      lit(16000).as("sample_rate"),
      (length($"text") * 10).cast("long").as("duration_ms"))
  }

  /** REAL decode: parse the BMP with `javax.imageio` and return the
    * raster as intensities in [0,1], traversed in FILE order (bottom-up
    * rows, B-G-R channels) so the value sequence equals the payload's
    * pixel bytes — the property the oracle checks and that makes the
    * sequential feature folds deterministic. */
  def decodeBmp(payload: Array[Byte]): Array[Double] = {
    MultimodalOps.imageIoNoCache // memory-backed ImageIO streams (no per-image temp file)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, "payload is not a decodable image")
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Double](w * h * 3)
    var k = 0
    var y = h - 1
    while (y >= 0) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        out(k) = (rgb & 0xFF) / 255.0; k += 1           // B
        out(k) = ((rgb >> 8) & 0xFF) / 255.0; k += 1    // G
        out(k) = ((rgb >> 16) & 0xFF) / 255.0; k += 1   // R
        x += 1
      }
      y -= 1
    }
    out
  }

  /** mm1: decode + per-media feature extraction (mean/std/min/max of the
    * decoded intensities) — oracle-checked against the generated pixel
    * bytes, so a broken encoder OR decoder hash-mismatches. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = mediaFromDocuments(spark, dir)
      .select($"media_id", $"kind", $"duration_ms", $"payload")
      .as[(Long, String, Long, Array[Byte])]
    media.mapPartitions { it =>
      it.map { case (id, kind, dur, payload) =>
        val px = decodeBmp(payload)
        var s = 0.0; var sq = 0.0
        var mn = Double.MaxValue; var mx = Double.MinValue
        var i = 0
        while (i < px.length) {
          val v = px(i)
          s += v; sq += v * v
          if (v < mn) mn = v
          if (v > mx) mx = v
          i += 1
        }
        val n = px.length.toDouble
        val mean = s / n
        (id, kind, dur, mean, sq / n - mean * mean, mn, mx)
      }
    }.toDF("media_id", "kind", "duration_ms", "mean_raw", "var_raw", "mn", "mx")
      .select($"media_id", $"kind", $"duration_ms",
        round($"mean_raw", 6).as("mean_px"),
        round(sqrt(greatest($"var_raw", lit(0.0))), 6).as("std_px"),
        round($"mn", 6).as("min_px"),
        round($"mx", 6).as("max_px"))
      .orderBy($"media_id")
  }

  /** mm2: frame sampling for "video" media — the decoded raster is split
    * into 4 frames (one per image row, file order), one output row per
    * frame with its mean intensity — oracle-checked. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rowLen = BmpWidth * 3
    val media = mediaFromDocuments(spark, dir)
      .filter($"kind" === "video")
      .select($"media_id", $"payload")
      .as[(Long, Array[Byte])]
    media.mapPartitions { it =>
      it.flatMap { case (id, payload) =>
        val px = decodeBmp(payload)
        (0 until BmpHeight).map { f =>
          var s = 0.0
          var i = f * rowLen
          while (i < (f + 1) * rowLen) { s += px(i); i += 1 }
          (id, f.toLong, s / rowLen.toDouble)
        }
      }
    }.toDF("media_id", "frame_idx", "mean_raw")
      .select($"media_id", $"frame_idx",
        round($"mean_raw", 6).as("frame_mean"))
      .orderBy($"media_id", $"frame_idx")
  }

  /** mm6: image RESIZE with a real encode∘decode round trip — the
    * preprocessing step every vision pipeline runs before batching into
    * a model. Nearest-neighbor 2× downsample (8×4 → 4×2): decode the
    * payload BMP (javax.imageio), sample every 2nd pixel of every 2nd
    * raster row (top-left rule, in FILE order so the byte math is
    * engine-replayable), RE-ENCODE the result as a complete 4×2 BMP,
    * then decode THAT with imageio again and compute the output record
    * from the re-decoded raster — so the hash gate certifies the
    * resized file is itself a valid bitmap whose raster holds exactly
    * the sampled pixels (encoder∘decoder = sampler, the mm4 property).
    *
    * Scale shape: narrow mapPartitions decode→resize→encode, zero
    * shuffle — ingest-rate preprocessing; the 2× factor generalizes by
    * changing the stride. */
  def resize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (ow, oh) = (BmpWidth / 2, BmpHeight / 2)
    val media = mediaFromDocuments(spark, dir)
      .filter($"kind" === "image")
      .select($"media_id", $"payload")
      .as[(Long, Array[Byte])]
    media.mapPartitions { it =>
      val hdr = bmpHeaderFor(ow, oh)
      it.map { case (id, payload) =>
        val px = decodeBmp(payload)             // file order, [0,1]
        val outBytes = new Array[Byte](ow * oh * 3)
        var k = 0
        var j = 0
        while (j < oh) {                        // output file-order row
          var x = 0
          while (x < ow) {
            var c = 0
            while (c < 3) {
              val v = px((2 * j) * (BmpWidth * 3) + (2 * x) * 3 + c)
              outBytes(k) = Math.round(v * 255.0).toByte
              k += 1; c += 1
            }
            x += 1
          }
          j += 1
        }
        val resized = hdr ++ outBytes
        // prove the re-encode: decode the resized file and derive the
        // output record from ITS raster, not from outBytes
        val rpx = decodeBmp(resized)
        require(rpx.length == ow * oh * 3, "resized BMP has wrong raster")
        var s = 0.0
        val hex = new StringBuilder(rpx.length * 2)
        var i = 0
        while (i < rpx.length) {
          val b = Math.round(rpx(i) * 255.0).toInt
          s += rpx(i)
          appendHex2(hex, b)
          i += 1
        }
        (id, ow, oh, s / rpx.length, hex.toString)
      }
    }.toDF("media_id", "out_w", "out_h", "mean_raw", "px_hex")
      .select($"media_id", $"out_w", $"out_h",
        round($"mean_raw", 6).as("mean_px"),
        md5($"px_hex").as("px_md5"))
      .orderBy($"media_id")
  }

  /** DuckDB replay for mm6: regenerate the source pixel hex, pick the
    * nearest-neighbor bytes by pure index math over the hex string,
    * recompute the mean from the same bytes and md5 the hex. */
  val resizeOracleSql: String =
    """WITH m AS (
         SELECT doc_id AS media_id,
           md5(text) || md5(text || '1') || md5(text || '2') ||
           md5(text || '3') || md5(text || '4') || md5(text || '5') AS ph
         FROM documents
         WHERE (doc_id % 3) = 0),
       px AS (
         SELECT media_id,
           [substr(ph, 2 * ((2 * (i // 12)) * 24 + 2 * ((i % 12) // 3) * 3 + (i % 3)) + 1, 2)
            for i in range(0, 24)] AS hx
         FROM m)
       SELECT media_id,
         CAST(4 AS INTEGER) AS out_w, CAST(2 AS INTEGER) AS out_h,
         round(list_sum(list_transform(hx,
           h -> CAST(('0x' || h) AS BIGINT) / 255.0)) / 24.0, 6) AS mean_px,
         md5(array_to_string(hx, '')) AS px_md5
       FROM px
       ORDER BY media_id"""

  /** Batched inference over media rows: the mapPartitions shape real GPU
    * scoring needs (fixed-size batches, per-partition setup). Each row's
    * payload goes through the REAL image decode; the "model" is the mean
    * intensity of the decoded raster. */
  final case class MediaRow(media_id: Long, payload: Array[Byte])
  final case class Scored(media_id: Long, score: Double, batch_size: Int)

  def batchScore(media: Dataset[MediaRow], batchSize: Int = 32): Dataset[Scored] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // real pipeline: val model = loadModelOnce()   (per partition)
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val px = decodeBmp(r.payload)
          Scored(r.media_id, px.sum / px.length, batch.size)
        }
      }
    }
  }

  def specs: Seq[QuerySpec] = Seq(
    // mm1/mm2: the Spark side encodes a REAL 8×4 24bpp BMP per document
    // and decodes it with javax.imageio; the oracle recomputes the pixel
    // BYTES the encoder generated (chained md5) and the same feature
    // math — a broken header, raster order, or codec call mismatches.
    QuerySpec("mm1_media_features", mediaFeatures, Some(
      """WITH m AS (
           SELECT doc_id AS media_id,
             (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
             CAST(length(text) * 10 AS BIGINT) AS duration_ms,
             md5(text) || md5(text || '1') || md5(text || '2') ||
               md5(text || '3') || md5(text || '4') || md5(text || '5') AS hx
           FROM documents),
         v AS (
           SELECT media_id, kind, duration_ms,
             list_transform(range(1, 97), i ->
               ((instr('0123456789abcdef', substring(hx, CAST(2*i-1 AS INT), 1)) * 16
                 + instr('0123456789abcdef', substring(hx, CAST(2*i AS INT), 1))) - 17)
               / 255.0) AS px
           FROM m),
         s AS (
           SELECT media_id, kind, duration_ms,
             list_sum(px) / 96.0 AS mean_px,
             list_sum(list_transform(px, v -> v * v)) / 96.0 AS sq_px,
             list_min(px) AS mn, list_max(px) AS mx
           FROM v)
         SELECT media_id, kind, duration_ms,
           round(mean_px, 6) AS mean_px,
           round(sqrt(greatest(sq_px - mean_px * mean_px, 0.0)), 6) AS std_px,
           round(mn, 6) AS min_px, round(mx, 6) AS max_px
         FROM s ORDER BY media_id""")),
    QuerySpec("mm2_frame_sample", frameSample, Some(
      """SELECT media_id, frame_idx,
         round(list_sum(list_transform(range(1, 25),
           i -> ((instr('0123456789abcdef', substring(frame, CAST(2*i-1 AS INT), 1)) * 16
                  + instr('0123456789abcdef', substring(frame, CAST(2*i AS INT), 1))) - 17)
                / 255.0)) / 24.0, 6)
           AS frame_mean
         FROM (
           SELECT doc_id AS media_id, f AS frame_idx,
             substring(md5(text) || md5(text || '1') || md5(text || '2') ||
                       md5(text || '3') || md5(text || '4') || md5(text || '5'),
                       CAST(f * 48 + 1 AS INT), 48) AS frame
           FROM documents, range(0, 4) r(f)
           WHERE doc_id % 3 = 2) t
         ORDER BY media_id, frame_idx""")),
    QuerySpec("mm6_image_resize", resize, Some(resizeOracleSql)))
}
