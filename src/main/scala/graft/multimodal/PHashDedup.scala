package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** §2.3 P38 (mm3): perceptual-hash image dedup — the multimodal twin of
  * the text near-dup family. Each media payload goes through the REAL
  * image decode ([[MultimodalOps.decodeBmp]]), is reduced to a
  * difference hash (dHash: horizontal gradient sign bits over the gray
  * raster), and near-duplicate images are grouped by Hamming distance
  * over the hash with pigeonhole banding — never an all-pairs scan over
  * images.
  *
  * Scale shape (100 TB of images): decode+hash is a narrow mapPartitions
  * pass (the per-partition shape that amortizes a codec handle); dedup
  * then operates on w·h-independent FIXED-SIZE hashes — band-key
  * equi-join + bounded verify, the P3 SimHash plan with pixels instead
  * of tokens. Band width scales with hash size (a 9×8 dHash → 64 bits →
  * 16-bit bands); the 8×4 test fixture gives 28 bits → 4×7-bit bands,
  * recall exactly 1.0 at hamming ≤ 3 by pigeonhole.
  *
  * Determinism: gray values are INTEGER channel sums (B+G+R recovered
  * exactly from the decoded [0,1] intensities), so every gradient
  * comparison is an integer compare — the DuckDB oracle replays hash
  * construction from the generated pixel bytes and the grouping
  * end-to-end; a broken encoder OR decoder hash-mismatches.
  */
object PHashDedup {

  import MultimodalOps.{BmpWidth, BmpHeight, decodeBmp}

  private val HashBits  = (BmpWidth - 1) * BmpHeight // 28
  private val BandBits  = BmpWidth - 1               // 7
  private val NumBands  = HashBits / BandBits        // 4
  private val MaxHamming = 3                         // < NumBands ⇒ recall 1.0

  /** dHash over the decoded raster (file order): integer gray = B+G+R
    * per pixel, bit k = y·7+x set iff gray(y,x+1) > gray(y,x). */
  private[multimodal] def dHash(px: Array[Double]): Long = {
    val gray = new Array[Int](BmpWidth * BmpHeight)
    var p = 0
    while (p < gray.length) {
      gray(p) = math.round(px(3 * p) * 255).toInt +
                math.round(px(3 * p + 1) * 255).toInt +
                math.round(px(3 * p + 2) * 255).toInt
      p += 1
    }
    var h = 0L
    var y = 0
    while (y < BmpHeight) {
      var x = 0
      while (x < BmpWidth - 1) {
        if (gray(y * BmpWidth + x + 1) > gray(y * BmpWidth + x))
          h |= 1L << (y * (BmpWidth - 1) + x)
        x += 1
      }
      y += 1
    }
    h
  }

  /** mm3: per-media decision record — dhash, lowest-id near-duplicate
    * counterpart at hamming ≤ 3 (null when none), keep flag. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashes = MultimodalOps.mediaFromDocuments(spark, dir)
      .select($"media_id", $"payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) => (id, dHash(decodeBmp(p))) })
      .toDF("media_id", "dhash")
    val bandStructs = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
             shiftright(col("dhash"), b * BandBits)
               .bitwiseAND(lit((1 << BandBits) - 1)).as("bits"))
    }
    val bands = hashes
      .select($"media_id", $"dhash", explode(array(bandStructs: _*)).as("bk"))
      .select($"media_id", $"dhash", $"bk.band", $"bk.bits")
    val a = bands.select($"band", $"bits", $"media_id".as("id_a"), $"dhash".as("h_a"))
    val b = bands.select($"band", $"bits", $"media_id".as("id_b"), $"dhash".as("h_b"))
    val dups = a.join(b, Seq("band", "bits"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b", $"h_a", $"h_b").distinct()
      .filter(bit_count($"h_a".bitwiseXOR($"h_b")) <= MaxHamming)
      .groupBy($"id_b".as("media_id")).agg(min($"id_a").as("dup_of"))
    hashes.join(dups, Seq("media_id"), "left")
      .select($"media_id", $"dhash", $"dup_of", $"dup_of".isNull.as("keep"))
      .orderBy($"media_id")
  }

  /** DuckDB replay: regenerate pixel bytes from the text-derived chained
    * md5 (the mm1 pattern), integer gray sums, gradient bits, banding-
    * free exact all-pairs hamming. */
  val oracleSql: String =
    """WITH m AS (
         SELECT doc_id AS media_id,
           md5(text) || md5(text || '1') || md5(text || '2') ||
           md5(text || '3') || md5(text || '4') || md5(text || '5') AS hx
         FROM documents),
       g AS (
         SELECT media_id,
           list_transform(range(0, 32), p ->
             (instr('0123456789abcdef', substring(hx, CAST(6*p+1 AS INT), 1)) * 16
              + instr('0123456789abcdef', substring(hx, CAST(6*p+2 AS INT), 1)) - 17)
             + (instr('0123456789abcdef', substring(hx, CAST(6*p+3 AS INT), 1)) * 16
              + instr('0123456789abcdef', substring(hx, CAST(6*p+4 AS INT), 1)) - 17)
             + (instr('0123456789abcdef', substring(hx, CAST(6*p+5 AS INT), 1)) * 16
              + instr('0123456789abcdef', substring(hx, CAST(6*p+6 AS INT), 1)) - 17)) AS gray
         FROM m),
       h AS (
         SELECT media_id,
           CAST(list_sum(list_transform(range(0, 28), k ->
             CASE WHEN gray[CAST((k // 7) * 8 + (k % 7) + 2 AS INT)]
                     > gray[CAST((k // 7) * 8 + (k % 7) + 1 AS INT)]
                  THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END)) AS BIGINT) AS dhash
         FROM g),
       dups AS (
         SELECT b.media_id AS media_id, min(a.media_id) AS dup_of
         FROM h a JOIN h b ON a.media_id < b.media_id
         WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         GROUP BY 1)
       SELECT h.media_id, h.dhash, d.dup_of, d.dup_of IS NULL AS keep
       FROM h LEFT JOIN dups d ON h.media_id = d.media_id
       ORDER BY h.media_id"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("mm3_phash_dedup", query, Some(oracleSql)))
}
