package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P12c (mm5): the VIDEO leg of the multimodal surface, with a REAL
  * container path — each payload is a complete RIFF/AVI file and the
  * decode step genuinely parses it: verifies the RIFF/'AVI ' magic,
  * walks the top-level chunk list, reads frame timing and dimensions
  * out of the 'hdrl' LIST's 'avih' header, tolerates unknown chunks
  * (a 'JUNK' chunk is planted between the lists to prove it), and
  * collects the raw bottom-up BGR DIB frames from the 'movi' LIST's
  * '00db' chunks. AVI shares WAV's RIFF container, so mm4's corrupt-
  * chunk guards apply here too.
  *
  * The operator is FRAME SAMPLING + per-frame feature extraction — the
  * brief's video op: decode, sample every `SampleEvery`-th frame, and
  * emit integer channel statistics per sampled frame. The corner_sum
  * feature reads the TOP-LEFT pixel, which in a bottom-up DIB lives in
  * the LAST stored row — it certifies the decoder understands the
  * raster layout, not just the byte stream.
  *
  * Only payload GENERATION is deterministic (chained md5 of the doc
  * text, video-leg salts v0–v5), so the DuckDB oracle regenerates the
  * frame bytes and recomputes every feature — certifying encoder,
  * container framing, header parse, chunk walk, frame order and
  * raster-layout math end-to-end.
  *
  * Scale: generation and decode+sample+featurize are narrow
  * mapPartitions passes, zero shuffle (the mm1/mm4 shape). 100 TB of
  * video streams through unchanged.
  */
object VideoOps {

  val Width  = 4
  val Height = 2
  val Frames = 4
  val SampleEvery = 2
  val MicrosPerFrame = 100000           // 10 fps
  val RowStride: Int = Width * 3        // 12 — already 4-byte aligned
  val FrameBytes: Int = RowStride * Height // 24 bytes; 4 frames = 6 md5 blocks

  /** Container prefix: RIFF('AVI ') → LIST('hdrl'){avih(56)} → JUNK(4)
    * → LIST('movi') header. The per-frame '00db' chunks follow. */
  private[multimodal] lazy val aviPrefix: Array[Byte] = {
    val hdrlSize = 4 + 8 + 56
    val moviSize = 4 + Frames * (8 + FrameBytes)
    val riffSize = 4 + (8 + hdrlSize) + (8 + 4) + (8 + moviSize)
    val bb = java.nio.ByteBuffer.allocate(8 + 4 + 8 + hdrlSize + 12 + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
      .put("AVI ".getBytes("US-ASCII"))
    bb.put("LIST".getBytes("US-ASCII")).putInt(hdrlSize)
      .put("hdrl".getBytes("US-ASCII"))
    bb.put("avih".getBytes("US-ASCII")).putInt(56)
      .putInt(MicrosPerFrame).putInt(0).putInt(0).putInt(0)
      .putInt(Frames).putInt(0).putInt(1).putInt(0)
      .putInt(Width).putInt(Height)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    bb.put("JUNK".getBytes("US-ASCII")).putInt(4).putInt(0)
    bb.put("LIST".getBytes("US-ASCII")).putInt(moviSize)
      .put("movi".getBytes("US-ASCII"))
    bb.array()
  }

  private[multimodal] lazy val dbHeader: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("00db".getBytes("US-ASCII")).putInt(FrameBytes)
    bb.array()
  }

  /** 96 deterministic frame bytes as hex: chained md5 with video salts. */
  private def frameHex(text: org.apache.spark.sql.Column) =
    concat((0 until 6).map(i => md5(concat(text, lit(s"v$i")))): _*)

  /** Video table derived from documents: complete AVI files + metadata. */
  def videoFromDocuments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hex = frameHex($"text")
    val chunks = (0 until Frames).flatMap { f =>
      Seq(lit(dbHeader), unhex(substring(hex, f * FrameBytes * 2 + 1, FrameBytes * 2)))
    }
    Tables.documents(spark, dir).select(
      $"doc_id".as("media_id"),
      concat(lit(aviPrefix) +: chunks: _*).as("payload"),
      lit(Frames.toLong * MicrosPerFrame / 1000).as("duration_ms"))
  }

  /** REAL AVI decode: verify magic, walk top-level chunks (LIST/hdrl →
    * avih; LIST/movi → 00db frames; skip unknown), return
    * (microsPerFrame, totalFrames, width, height, frames). */
  def decodeAvi(payload: Array[Byte]): (Int, Int, Int, Int, Array[Array[Byte]]) = {
    val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(payload, off, 4, "US-ASCII")
    require(payload.length >= 12 && tag(0) == "RIFF" && tag(8) == "AVI ",
      "payload is not a RIFF/AVI file")
    var usPerFrame = -1; var total = -1; var w = -1; var h = -1
    val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    def walk(from: Int, until: Int, inMovi: Boolean): Unit = {
      var pos = from
      while (pos + 8 <= until) {
        val id = tag(pos); val sz = bb.getInt(pos + 4)
        // long arithmetic: a hostile 2^31-ish size would overflow the
        // int sum and sneak past the bound
        require(sz >= 0 && pos + 8 + sz.toLong <= payload.length,
          s"corrupt chunk '$id': size $sz at offset $pos exceeds payload")
        id match {
          case "LIST" =>
            val lt = tag(pos + 8)
            // recurse into known lists; an unknown LIST is skipped whole
            if (lt == "hdrl" || lt == "movi")
              walk(pos + 12, pos + 8 + sz, lt == "movi")
          case "avih" =>
            usPerFrame = bb.getInt(pos + 8)
            total = bb.getInt(pos + 24)
            w = bb.getInt(pos + 40); h = bb.getInt(pos + 44)
          case "00db" if inMovi =>
            frames += java.util.Arrays.copyOfRange(payload, pos + 8, pos + 8 + sz)
          case _ => () // JUNK / unknown — skip, like any compliant reader
        }
        pos += 8 + sz + (sz & 1) // chunks are word-aligned
      }
    }
    walk(12, payload.length, inMovi = false)
    require(usPerFrame > 0 && frames.nonEmpty, "missing avih/movi content")
    (usPerFrame, total, w, h, frames.toArray)
  }

  /** mm5: decode + sample every `SampleEvery`-th frame + integer channel
    * features. corner_sum reads the top-left pixel (LAST stored DIB row)
    * — raster-layout proof; width/height/fps come from the parsed avih. */
  def videoFrameFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = videoFromDocuments(spark, dir)
      .select($"media_id", $"payload").as[(Long, Array[Byte])]
    media.mapPartitions { it =>
      it.flatMap { case (id, payload) =>
        val (us, _, w, h, frames) = decodeAvi(payload)
        frames.indices.filter(_ % SampleEvery == 0).map { f =>
          val fr = frames(f)
          var sb = 0L; var sg = 0L; var sr = 0L; var mx = 0L
          var p = 0
          while (p < fr.length) {
            val v = fr(p) & 0xff
            (p % 3) match {
              case 0 => sb += v
              case 1 => sg += v
              case _ => sr += v
            }
            if (v > mx) mx = v
            p += 1
          }
          // top-left pixel: first pixel of the TOP image row = first
          // 3 bytes of the LAST stored row (bottom-up DIB)
          val off = (h - 1) * w * 3
          val corner = (fr(off) & 0xff) + (fr(off + 1) & 0xff) + (fr(off + 2) & 0xff)
          (id, f.toLong, 1000000L / us, w, h, sb, sg, sr, mx, corner.toLong)
        }
      }
    }.toDF("media_id", "frame_idx", "fps", "width", "height",
           "sum_b", "sum_g", "sum_r", "max_px", "corner_sum")
      .orderBy($"media_id", $"frame_idx")
  }

  /** DuckDB replay: regenerate the 96 frame bytes (chained md5), slice
    * per frame, recompute every channel/corner feature for the sampled
    * frames. */
  val oracleSql: String =
    """WITH m AS (
         SELECT doc_id AS media_id,
           md5(text || 'v0') || md5(text || 'v1') || md5(text || 'v2') ||
           md5(text || 'v3') || md5(text || 'v4') || md5(text || 'v5') AS hx
         FROM documents),
       b AS (
         SELECT media_id,
           list_transform(range(0, 96), j ->
             CAST((instr('0123456789abcdef', substring(hx, CAST(2*j+1 AS INT), 1)) - 1) * 16
               + (instr('0123456789abcdef', substring(hx, CAST(2*j+2 AS INT), 1)) - 1)
               AS BIGINT)) AS bytes
         FROM m),
       fr AS (
         SELECT media_id, f AS frame_idx,
           list_transform(range(1, 25), i -> bytes[CAST(f*24 + i AS INT)]) AS fb
         FROM b, (SELECT unnest([0, 2]) AS f) s)
       SELECT media_id, frame_idx,
         CAST(10 AS BIGINT) AS fps, CAST(4 AS INT) AS width, CAST(2 AS INT) AS height,
         CAST(list_sum(list_transform(range(0, 8), p -> fb[CAST(p*3+1 AS INT)])) AS BIGINT) AS sum_b,
         CAST(list_sum(list_transform(range(0, 8), p -> fb[CAST(p*3+2 AS INT)])) AS BIGINT) AS sum_g,
         CAST(list_sum(list_transform(range(0, 8), p -> fb[CAST(p*3+3 AS INT)])) AS BIGINT) AS sum_r,
         CAST(list_max(fb) AS BIGINT) AS max_px,
         CAST(fb[13] + fb[14] + fb[15] AS BIGINT) AS corner_sum
       FROM fr
       ORDER BY media_id, frame_idx"""

  def specs: Seq[QuerySpec] =
    Seq(QuerySpec("mm5_video_frames", videoFrameFeatures, Some(oracleSql)))
}
