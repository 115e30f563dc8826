package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P12b (mm4): the AUDIO leg of the multimodal surface, with a REAL
  * codec path — each payload is a complete RIFF/WAVE file (canonical
  * 44-byte PCM header + 16-bit little-endian mono samples) and the
  * decode step genuinely parses it: verifies the RIFF/WAVE magic, walks
  * the chunk list, reads channels/sample-rate/bit-depth out of `fmt `,
  * and decodes the `data` chunk's samples. As with mm1's BMP leg, only
  * the payload GENERATION is deterministic (chained md5 of the document
  * text) — which is exactly what lets the DuckDB oracle recompute the
  * expected samples and certify encoder + header + chunk walk + sample
  * decode end-to-end.
  *
  * Features are the standard frame-level speech-processing trio —
  * energy, zero-crossing rate, peak — kept INTEGER (sum of squares of
  * int16 samples, sign-change count, max |sample|) so every value is
  * exactly replayable and order-independent.
  *
  * Scale: generation and decode+featurize are narrow mapPartitions
  * passes (zero shuffle; the partition-at-a-time shape amortizes a real
  * codec handle); the frame explode is reduced row-locally. 100 TB of
  * audio streams through unchanged — only the parquet partition count
  * grows.
  */
object AudioOps {

  val SampleRate  = 8000
  val NumSamples  = 32            // 64 data bytes = 4 chained md5 blocks
  val FrameSize   = 8             // → 4 frames per clip
  val NumFrames: Int = NumSamples / FrameSize

  /** Canonical 44-byte PCM WAV header (RIFF → fmt(16, pcm, mono,
    * 8 kHz, 16-bit) → data) for NumSamples 16-bit samples. */
  private[multimodal] lazy val wavHeader: Array[Byte] = {
    val dataBytes = NumSamples * 2
    val bb = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                           // PCM
      .putShort(1)                           // mono
      .putInt(SampleRate)
      .putInt(SampleRate * 2)                // byte rate
      .putShort(2)                           // block align
      .putShort(16)                          // bits per sample
    bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
    bb.array()
  }

  /** 64 deterministic PCM bytes as hex: chained md5 of the text with
    * audio-leg salts (distinct from mm1's image chain). */
  private def sampleHex(text: org.apache.spark.sql.Column) =
    concat(md5(concat(text, lit("w0"))), md5(concat(text, lit("w1"))),
           md5(concat(text, lit("w2"))), md5(concat(text, lit("w3"))))

  /** Audio table derived from documents: complete WAV files + metadata. */
  def audioFromDocuments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(
      $"doc_id".as("media_id"),
      concat(lit(wavHeader), unhex(sampleHex($"text"))).as("payload"),
      lit(1000L * NumSamples / SampleRate).as("duration_ms"))
  }

  /** REAL WAV decode: verify magic, walk chunks, return (sampleRate,
    * channels, bitsPerSample, samples). Rejects non-RIFF payloads and
    * tolerates extra chunks / odd-size padding like any WAV reader. */
  def decodeWav(payload: Array[Byte]): (Int, Int, Int, Array[Int]) = {
    val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(payload, off, 4, "US-ASCII")
    require(payload.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE",
      "payload is not a RIFF/WAVE file")
    var pos = 12
    var sr = -1; var channels = -1; var bits = -1
    var samples: Array[Int] = null
    while (pos + 8 <= payload.length) {
      val id = tag(pos); val sz = bb.getInt(pos + 4)
      // reject corrupt sizes BEFORE dispatching: a negative sz would make
      // the position update a no-op (infinite loop), an oversized one
      // would read past the buffer — a tolerant reader must fail cleanly.
      // Long arithmetic: a 2^31-ish size would overflow the int sum and
      // sneak past the bound
      require(sz >= 0 && pos + 8 + sz.toLong <= payload.length,
        s"corrupt chunk '$id': size $sz at offset $pos exceeds payload")
      id match {
        case "fmt " =>
          channels = bb.getShort(pos + 10)
          sr = bb.getInt(pos + 12)
          bits = bb.getShort(pos + 22)
        case "data" =>
          require(bits == 16 && channels == 1,
            s"unsupported PCM shape: $bits-bit, $channels ch")
          samples = Array.tabulate(sz / 2)(i => bb.getShort(pos + 8 + 2 * i).toInt)
        case _ => () // skip unknown chunks, like any compliant reader
      }
      pos += 8 + sz + (sz & 1) // chunks are word-aligned
    }
    require(sr > 0 && samples != null, "missing fmt /data chunk")
    (sr, channels, bits, samples)
  }

  /** mm4: decode + frame-level features — one row per (clip, frame) with
    * integer energy / zero-crossing count / peak, plus the PARSED sample
    * rate (proves the header walk, not just the data chunk). */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = audioFromDocuments(spark, dir)
      .select($"media_id", $"payload").as[(Long, Array[Byte])]
    media.mapPartitions { it =>
      it.flatMap { case (id, payload) =>
        val (sr, _, _, smp) = decodeWav(payload)
        (0 until NumFrames).map { f =>
          var energy = 0L; var zc = 0L; var peak = 0L
          var i = f * FrameSize
          while (i < (f + 1) * FrameSize) {
            val s = smp(i)
            energy += s.toLong * s
            if (math.abs(s) > peak) peak = math.abs(s)
            if (i > f * FrameSize && ((smp(i - 1) < 0) != (s < 0))) zc += 1
            i += 1
          }
          (id, f.toLong, sr, energy, zc, peak)
        }
      }
    }.toDF("media_id", "frame_idx", "sample_rate", "energy", "zero_crossings", "peak")
      .orderBy($"media_id", $"frame_idx")
  }

  /** DuckDB replay: regenerate the PCM bytes (chained md5), decode int16
    * little-endian, recompute the integer frame features. */
  val oracleSql: String =
    """WITH m AS (
         SELECT doc_id AS media_id,
           md5(text || 'w0') || md5(text || 'w1') ||
             md5(text || 'w2') || md5(text || 'w3') AS hx
         FROM documents),
       smp AS (
         SELECT media_id,
           list_transform(range(0, 32), j ->
             CAST((
               (instr('0123456789abcdef', substring(hx, CAST(4*j+1 AS INT), 1)) - 1) * 16
               + (instr('0123456789abcdef', substring(hx, CAST(4*j+2 AS INT), 1)) - 1)
               + ((instr('0123456789abcdef', substring(hx, CAST(4*j+3 AS INT), 1)) - 1) * 16
                  + (instr('0123456789abcdef', substring(hx, CAST(4*j+4 AS INT), 1)) - 1)) * 256
             ) AS BIGINT)) AS raw
         FROM m),
       sgn AS (
         SELECT media_id,
           list_transform(raw, r -> CASE WHEN r >= 32768 THEN r - 65536 ELSE r END) AS s
         FROM smp),
       fr AS (
         SELECT media_id, f AS frame_idx,
           list_transform(range(1, 9), i -> s[CAST(f*8 + i AS INT)]) AS w
         FROM sgn, range(0, 4) r(f))
       SELECT media_id, frame_idx, CAST(8000 AS INT) AS sample_rate,
         CAST(list_sum(list_transform(w, x -> x * x)) AS BIGINT) AS energy,
         CAST(coalesce(list_sum(list_transform(range(2, 9),
           i -> CASE WHEN (w[CAST(i-1 AS INT)] < 0) != (w[CAST(i AS INT)] < 0)
                THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings,
         CAST(list_max(list_transform(w, x -> abs(x))) AS BIGINT) AS peak
       FROM fr
       ORDER BY media_id, frame_idx"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("mm4_audio_features", audioFeatures, Some(oracleSql)))
}
