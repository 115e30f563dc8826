package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P55 (mm7): CROSS-MODAL pair filtering — the LAION-style
  * image–text consistency gate. A multimodal corpus is (image, caption)
  * pairs, and the single highest-leverage curation step is dropping
  * pairs whose image and caption DISAGREE (scraped alt-text pointing at
  * the wrong asset, CDN swaps, watermark boilerplate): LAION kept only
  * pairs with CLIP cosine ≥ 0.28 and that one filter did most of the
  * curation work.
  *
  * Here the two encoders are deterministic PROXIES (the multimodal
  * stubbing rule mm1–mm6 follow — the container has no vision/text
  * model; the Spark-side plumbing is the real thing):
  *  - image side: the payload BMP is REALLY decoded (javax.imageio, the
  *    mm1 path) and embedded as its 96 raster intensities;
  *  - text side: the caption is embedded by the same generator family
  *    that derives test images from text (chained md5 → 96 bytes), i.e.
  *    the text encoder "predicts" the pixel distribution the caption
  *    should produce.
  * A TRUE pair (caption generated the image) agrees exactly — centered
  * cosine (Pearson) 1.0; a mismatched pair compares two independent
  * md5 streams — correlation ~N(0, 1/√96). The gate keeps cos ≥ 0.8
  * (≈ 8σ from the mismatch distribution, unreachable by chance; a real
  * CLIP gate would sit near 0.28 on genuine embeddings).
  *
  * Mismatches are PLANTED deterministically — pair_id ≡ 3 (mod 10)
  * takes its caption from the NEXT document — and the DuckDB oracle
  * replays the plant, both embeddings, and the exact integer-centered
  * cosine, so the hash gate certifies the decode, both embedding paths,
  * the agreement math, and the keep/drop decision row for row.
  *
  * Determinism: all moments are computed in INTEGER space over the raw
  * byte values (Σb, Σ(96·bᵢ−Σb)², cross term) — exact long arithmetic,
  * order-independent; the single double division+sqrt at the end is
  * IEEE-correctly-rounded in both engines. No float accumulation
  * anywhere, so no summation-order sensitivity (the p29/p34 discipline).
  *
  * Scale shape: the SCORING — decode + both embeddings + the
  * agreement math — is ONE narrow mapPartitions (the mm1/mm6 shape
  * with a second modality folded in), so at 100 TB, where pairs
  * arrive AS pairs, the operator is shuffle-free ingest-rate row-local
  * work. The self-equi-join (building test pairs from the single-table
  * corpus) and the doc-ordered output sort are harness artifacts: the
  * join is a broadcast hash join at test SF and would not exist on a
  * real pair table, and the sort exists for the deterministic oracle
  * compare.
  */
object CrossModal {

  val Threshold = 0.8
  private val N = MultimodalOps.PixelBytes // 96

  /** (pair_id, payload, caption, planted): every document becomes an
    * (image, caption) pair; pair_id ≡ 3 (mod 10) swaps in the next
    * document's text as a WRONG caption (when a next document exists —
    * the corpus edge keeps its own). */
  def pairTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir).select($"doc_id", $"text")
    val nxt = d.select(($"doc_id" - 1).as("doc_id"), $"text".as("next_text"))
    d.join(nxt, Seq("doc_id"), "left")
      .select($"doc_id".as("pair_id"),
        concat(lit(MultimodalOps.bmpHeader),
          unhex(MultimodalOps.pixelHex($"text"))).as("payload"),
        ($"doc_id" % 10 === 3 && $"next_text".isNotNull).as("planted"),
        when($"doc_id" % 10 === 3 && $"next_text".isNotNull, $"next_text")
          .otherwise($"text").as("caption"))
  }

  /** mm7: per pair — the centered image↔caption cosine, the keep/drop
    * decision, and the plant flag; fail-fast gate: every planted pair
    * must be dropped and every true pair kept (exact math: true pairs
    * correlate at exactly 1.0, planted ones sit ~8σ below the 0.8
    * threshold). */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = pairTable(spark, dir)
      .select($"pair_id", $"payload", $"caption", $"planted")
      .as[(Long, Array[Byte], String, Boolean)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def chain(caption: String): Array[Int] = {
          val out = new Array[Int](N)
          var k = 0
          var block = 0
          while (block < N / 16) {
            md.reset()
            val s = if (block == 0) caption else caption + block.toString
            val dg = md.digest(s.getBytes("UTF-8"))
            var j = 0
            while (j < 16) { out(k) = dg(j) & 0xff; k += 1; j += 1 }
            block += 1
          }
          out
        }
        it.map { case (id, payload, caption, planted) =>
          // image side: REAL decode, back to raw byte values
          val px = MultimodalOps.decodeBmp(payload)
          val bx = new Array[Int](N)
          var i = 0
          while (i < N) { bx(i) = Math.round(px(i) * 255.0).toInt; i += 1 }
          val by = chain(caption)
          // exact integer centered moments: Σ(N·b − Σb) terms
          var sx = 0L; var sy = 0L
          i = 0
          while (i < N) { sx += bx(i); sy += by(i); i += 1 }
          var sxy = 0L; var sxx = 0L; var syy = 0L
          i = 0
          while (i < N) {
            val cx = N.toLong * bx(i) - sx
            val cy = N.toLong * by(i) - sy
            sxy += cx * cy; sxx += cx * cx; syy += cy * cy
            i += 1
          }
          val cos =
            if (sxx == 0L || syy == 0L) Double.NaN
            else sxy.toDouble / math.sqrt(sxx.toDouble * syy.toDouble)
          (id, cos, !cos.isNaN && cos >= Threshold, planted)
        }
      }
      .toDF("pair_id", "cos_raw", "kept", "planted")
    val out = scored
      .select($"pair_id",
        when(isnan($"cos_raw"), lit(null).cast("double"))
          .otherwise(round($"cos_raw", 6)).as("cm_cos"),
        $"kept", $"planted")
      .orderBy($"pair_id")
    // plant replay gate: agreement must separate perfectly (see above).
    // Computed off the PERSISTED output frame — the first cut filtered
    // the pre-persist plan, so the gate re-ran the whole decode+embed
    // pipeline a second time (measured at the 100× decade: 91s → ~50s)
    val bad = out.filter($"kept" === $"planted").count()
    require(bad == 0,
      s"mm7 cross-modal gate failed to separate $bad planted/true pairs")
    out
  }

  /** DuckDB replay: the plant, both md5-chain embeddings (the image one
    * via the generated pixel hex — certifying Spark's real decode
    * returned exactly the encoded raster), and the same integer-centered
    * cosine and 0.8 gate. */
  val oracleSql: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       pairs AS (
         SELECT d.doc_id AS pair_id, d.text AS src_text,
           (d.doc_id % 10 = 3 AND d2.text IS NOT NULL) AS planted,
           CASE WHEN d.doc_id % 10 = 3 AND d2.text IS NOT NULL
                THEN d2.text ELSE d.text END AS caption
         FROM d LEFT JOIN d d2 ON d2.doc_id = d.doc_id + 1),
       hx AS (
         SELECT pair_id, planted,
           md5(src_text) || md5(src_text || '1') || md5(src_text || '2') ||
           md5(src_text || '3') || md5(src_text || '4') || md5(src_text || '5') AS pi,
           md5(caption) || md5(caption || '1') || md5(caption || '2') ||
           md5(caption || '3') || md5(caption || '4') || md5(caption || '5') AS pt
         FROM pairs),
       v AS (
         SELECT pair_id, planted,
           [CAST(('0x' || substr(pi, 2 * i + 1, 2)) AS BIGINT) for i in range(0, $N)] AS bx,
           [CAST(('0x' || substr(pt, 2 * i + 1, 2)) AS BIGINT) for i in range(0, $N)] AS by
         FROM hx),
       s AS (
         SELECT pair_id, planted, bx, by,
           list_sum(bx) AS sx, list_sum(by) AS sy FROM v),
       c AS (
         SELECT pair_id, planted,
           list_sum([($N * bx[i + 1] - sx) * ($N * by[i + 1] - sy) for i in range(0, $N)]) AS sxy,
           list_sum([($N * bx[i + 1] - sx) * ($N * bx[i + 1] - sx) for i in range(0, $N)]) AS sxx,
           list_sum([($N * by[i + 1] - sy) * ($N * by[i + 1] - sy) for i in range(0, $N)]) AS syy
         FROM s)
       SELECT pair_id,
         CASE WHEN sxx = 0 OR syy = 0 THEN NULL
              ELSE round(CAST(sxy AS DOUBLE) /
                         sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6)
         END AS cm_cos,
         CASE WHEN sxx = 0 OR syy = 0 THEN FALSE
              ELSE CAST(sxy AS DOUBLE) /
                   sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)) >= $Threshold
         END AS kept,
         planted
       FROM c
       ORDER BY pair_id"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("mm7_crossmodal_filter", query, Some(oracleSql)))
}
