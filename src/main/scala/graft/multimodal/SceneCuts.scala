package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}

/** §2.3 P58 (mm8): SCENE-CUT detection / keyframe extraction — the
  * standard first pass over video training data (dedup on keyframes,
  * caption per shot, sample frames per scene rather than per clip).
  * The detector is the classical sum-of-absolute-differences cut test:
  * a frame whose SAD against its predecessor exceeds a threshold opens
  * a new scene; keyframes are frame 0 plus every cut frame.
  *
  * The clips are mm5's REAL RIFF/AVI container (same header walk, same
  * bottom-up DIB frames — [[VideoOps.decodeAvi]] is reused verbatim),
  * but generated WITH scene structure: frames before a per-clip
  * boundary (1 + doc_id % 3) repeat scene block A, frames from the
  * boundary on repeat scene block B (a static shot per scene — both
  * blocks are chained md5 of the doc text under scene salts). Within a
  * scene SAD is exactly 0; across the boundary two independent md5
  * streams differ by ~2048 ± 316 over the 24 frame bytes, so the
  * threshold of 24 (average |Δ| of 1 per byte) sits ~6.4σ below the
  * cut distribution and can NEVER false-positive inside a scene
  * (0 < 24 unconditionally). The gate's false-negative probability is
  * ~1e-40 per boundary (all 24 independent byte deltas would have to
  * average < 1), i.e. zero at any corpus size.
  *
  * Mismatch-proof: the planted boundary rides the frame, the in-query
  * gate requires every clip's detected cut set to be EXACTLY its
  * plant, and the DuckDB oracle regenerates both scene blocks and
  * replays SAD + threshold per frame — certifying container framing,
  * frame order, the SAD math, and the keyframe decision row for row.
  *
  * Scale shape: generation and decode+SAD are ONE narrow mapPartitions
  * pass (zero shuffle — the mm1/mm4/mm5 shape; consecutive-frame state
  * is per-clip-local). The gate and output sort are harness artifacts;
  * the result is materialized so gate + driver write don't re-run
  * the decode (the mm7 decade lesson).
  */
object SceneCuts {

  /** SAD cut threshold: FrameBytes = average |Δ| of 1 per byte. */
  val CutThreshold: Long = VideoOps.FrameBytes.toLong

  private def sceneHex(text: org.apache.spark.sql.Column, scene: Int) =
    substring(concat(md5(concat(text, lit(s"k${scene}a"))),
                     md5(concat(text, lit(s"k${scene}b")))), 1, VideoOps.FrameBytes * 2)

  /** Video table WITH scene structure: same AVI container as mm5, frame
    * f repeats scene block A while f < boundary, scene block B after;
    * boundary = 1 + doc_id % 3 rides along as the plant. */
  def sceneVideoFromDocuments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h0 = sceneHex($"text", 0)
    val h1 = sceneHex($"text", 1)
    val boundary = lit(1L) + $"doc_id" % 3
    val chunks = (0 until VideoOps.Frames).flatMap { f =>
      Seq(lit(VideoOps.dbHeader),
        unhex(when(lit(f) < boundary, h0).otherwise(h1)))
    }
    Tables.documents(spark, dir).select(
      $"doc_id".as("media_id"),
      concat(lit(VideoOps.aviPrefix) +: chunks: _*).as("payload"),
      boundary.as("planted_cut"))
  }

  /** mm8: decode every clip, SAD each frame against its predecessor,
    * keep keyframes (frame 0 + cut frames); fail-fast gate: detected
    * cuts ≡ planted boundaries, clip for clip. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = sceneVideoFromDocuments(spark, dir)
      .select($"media_id", $"payload", $"planted_cut")
      .as[(Long, Array[Byte], Long)]
    // gate + driver write read this, not the decode
    val rows = Materialize(media.mapPartitions { it =>
      it.flatMap { case (id, payload, plant) =>
        val (_, _, _, _, frames) = VideoOps.decodeAvi(payload)
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Long], Long)]()
        out += ((id, 0L, None, plant))
        var f = 1
        while (f < frames.length) {
          val a = frames(f - 1); val b = frames(f)
          var sad = 0L; var i = 0
          while (i < a.length) {
            sad += math.abs((a(i) & 0xff) - (b(i) & 0xff)); i += 1
          }
          if (sad >= CutThreshold) out += ((id, f.toLong, Some(sad), plant))
          f += 1
        }
        out
      }
    }.toDF("media_id", "frame_idx", "sad_prev", "plant"))
    val per = rows.groupBy($"media_id", $"plant")
      .agg(sum(when($"frame_idx" > 0, 1).otherwise(0)).as("n_cuts"),
           max(when($"frame_idx" > 0, $"frame_idx")).as("cut_at"))
    val bad = per.filter($"n_cuts" =!= 1 || $"cut_at" =!= $"plant").count()
    require(bad == 0, s"mm8 scene-cut gate: $bad clips detected cuts != plant")
    rows.select($"media_id", $"frame_idx", $"sad_prev")
      .orderBy($"media_id", $"frame_idx")
  }

  /** DuckDB replay: regenerate both scene blocks, rebuild each frame's
    * 24 bytes, recompute SAD vs the previous frame and the threshold
    * decision, union in the frame-0 keyframes. */
  val oracleSql: String =
    s"""WITH d AS (
         SELECT doc_id AS media_id, text, 1 + doc_id % 3 AS boundary
         FROM documents),
       hx AS (
         SELECT media_id, boundary,
           substr(md5(text || 'k0a') || md5(text || 'k0b'), 1, 48) AS h0,
           substr(md5(text || 'k1a') || md5(text || 'k1b'), 1, 48) AS h1
         FROM d),
       fr AS (
         SELECT media_id, boundary, f,
           [CAST(('0x' || substr(CASE WHEN f < boundary THEN h0 ELSE h1 END,
                                 2 * i + 1, 2)) AS BIGINT)
             for i in range(0, ${VideoOps.FrameBytes})] AS fb
         FROM hx, (SELECT unnest(range(0, ${VideoOps.Frames})) AS f) s),
       sad AS (
         SELECT a.media_id, a.f AS frame_idx,
           list_sum([abs(a.fb[i + 1] - b.fb[i + 1])
                     for i in range(0, ${VideoOps.FrameBytes})]) AS sad_prev
         FROM fr a JOIN fr b ON a.media_id = b.media_id AND b.f = a.f - 1)
       SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
              CAST(sad_prev AS BIGINT) AS sad_prev
       FROM sad WHERE sad_prev >= $CutThreshold
       UNION ALL
       SELECT media_id, CAST(0 AS BIGINT) AS frame_idx,
              CAST(NULL AS BIGINT) AS sad_prev
       FROM d
       ORDER BY media_id, frame_idx"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("mm8_scene_cuts", query, Some(oracleSql)))
}
