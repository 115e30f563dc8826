package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P4: character n-gram Jaccard similarity.
  *
  * Same LSH machinery as MinHash dedup but over character 3-grams, which
  * catches near-dups with small in-word edits that token shingles miss.
  */
object NgramJaccard {

  /** LSH candidates over char-ngram sets, verified with exact Jaccard.
    *
    * Char n-gram sets of same-language text overlap heavily, so band
    * length matters: 8 bands × 8 rows keeps per-band collision ≈ j⁸
    * (false candidates negligible below j≈0.7) while the 8-band
    * OR-amplification holds recall at 1.0 for true pairs ≥ 0.9 on this
    * corpus (miss ≈ (1−j⁸)⁸ < 10⁻⁵ at j = 0.9; validated exact vs the
    * brute-force oracle). The bucket cap stops boilerplate buckets going
    * quadratic. */
  def similarPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.9, n: Int = 3,
                   maxBucketSize: Int = MinHashDedup.DefaultMaxBucketSize): DataFrame = {
    // fused char_ngram_hashes: n-gram windows, hashing, distinct and
    // sort in one compiled pass per document. Bucket-local verification:
    // char-gram sets of same-language text put MANY non-pairs inside the
    // candidate band (cross-replica twins at J≈0.7–0.76 on the scaled
    // corpus), and carrying both gram arrays per candidate through join
    // shuffles measured 689s at the 100× decade — in-bucket Jaccard
    // ships only thin verified rows instead.
    val sets = df.select(col(idCol).as("id"),
      graft.functions.HashFunctions.char_ngram_hashes(col(textCol), n).as("sh"))
    MinHashDedup.verifiedPairsByHashed(sets, threshold, bands = 8, rowsPerBand = 8,
        maxBucketSize = maxBucketSize)
      .select("id_a", "id_b", "jaccard")
  }

  /** p4: char-3-gram Jaccard near-dup pairs, oracle-checked against
    * DuckDB's exact brute-force all-pairs (see [[oracleSql]]). */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    similarPairs(Tables.documents(spark, dir), "doc_id", "text", 0.9)
      .orderBy($"id_a", $"id_b")
  }

  /** DuckDB oracle: exact all-pairs char-trigram Jaccard ≥ τ. */
  val oracleSql: String =
    """WITH sh AS (
         SELECT doc_id,
           list_distinct([substr(text, CAST(i AS INT), 3)
                          for i in range(1, greatest(length(text) - 2, 1) + 1)]) AS s
         FROM documents)
       SELECT id_a, id_b, round(jc, 6) AS jaccard FROM (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jc
         FROM sh a, sh b WHERE a.doc_id < b.doc_id) t
       WHERE jc >= 0.9
       ORDER BY id_a, id_b"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p4_ngram_jaccard", query, Some(oracleSql)))
}
