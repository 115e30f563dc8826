package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** §2.3 P40: DSIR-style data selection via importance resampling (Xie,
  * Santurkar, Ma, Liang — "Data Selection for Language Models via
  * Importance Resampling", NeurIPS 2023). Estimate target and raw
  * distributions over HASHED token features (64 buckets here), score
  * every raw document with the log-likelihood ratio
  * Σ_t [ln p̂_target(b(t)) − ln p̂_raw(b(t))] (add-one smoothed), and
  * keep the documents that look more target-like than raw-like. The
  * target here is the corpus's own English slice — the "high-quality
  * reference distribution" a pretraining curation run would plug in.
  *
  * Spark shape (100 TB): the two distribution estimates collapse to ONE
  * 64-row bucket-count aggregate each (map-side combinable); the weight
  * table is feature-hash-sized, never corpus-sized, and joins back
  * broadcast. Document scoring is groupBy(doc, bucket) → broadcast
  * weight join → per-doc sum. Per-token weights are floor-quantized to
  * integer micro-nats (the p29/q43 pattern) so every per-doc sum is an
  * order-independent integer sum — bit-identical under any partitioning
  * and exactly replayable by DuckDB. The keep decision is row-local
  * (score > 0), i.e. no global sort; composing with weighted sampling
  * at a target token budget is exactly [[graft.operators.WeightedSample]]
  * (p27) over `dsir_micro`.
  */
object ImportanceResample {

  val Buckets = 64

  /** Hash a token to one of 64 buckets via the last byte of its md5 —
    * deterministic and exactly replayable in SQL on both engines. (The
    * fused xxhash64 expressions are the at-scale alternative; md5 keeps
    * the oracle able to recompute the SAME bucket ids.) */
  private def bucketOf(tok: org.apache.spark.sql.Column) =
    (conv(substring(md5(tok), 31, 2), 16, 10).cast("long") % Buckets).cast("int")

  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir)
    val toks = docs
      .select($"doc_id", $"lang",
        explode(graft.text.TextAnalysis.tokens($"text")).as("tok"))
      .withColumn("bucket", bucketOf($"tok"))
    // one bucket-count aggregate per distribution (64 rows each)
    val raw = toks.groupBy($"bucket").agg(count(lit(1)).as("rc"))
    val tgt = toks.filter($"lang" === "en")
      .groupBy($"bucket").agg(count(lit(1)).as("tc"))
    // totals: two scalars on the driver (the m3/m11 pattern)
    val Array(totRaw, totTgt) = {
      val r = toks.agg(count(lit(1)).as("tr"),
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("tt")).head()
      Array(r.getLong(0), r.getLong(1))
    }
    // cross-engine caveat (advisor r6): floor over log() means a weight
    // landing within an ulp of an integer boundary could floor
    // differently across libm implementations — unlike the integer-sum
    // partitioning determinism (sound), hash-exactness here is
    // data-dependent; a rational form (integer counts compared via
    // cross-multiplication) would remove the libm dependence if a
    // boundary case ever surfaces
    val weights = raw.join(tgt, Seq("bucket"), "left")
      .na.fill(0L, Seq("tc"))
      .select($"bucket",
        floor(lit(1e6) *
          (log(($"tc" + 1).cast("double") / lit(totTgt + Buckets.toDouble)) -
           log(($"rc" + 1).cast("double") / lit(totRaw + Buckets.toDouble))))
          .cast("long").as("w_micro"))
    val perDocBucket = toks.groupBy($"doc_id", $"bucket")
      .agg(count(lit(1)).as("cnt"))
    perDocBucket.join(broadcast(weights), Seq("bucket"))
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("n_tokens"),
           sum($"cnt" * $"w_micro").as("dsir_micro"))
      .select($"doc_id", $"n_tokens", $"dsir_micro",
        ($"dsir_micro" > 0).as("keep"))
      .orderBy($"doc_id")
  }

  val oracleSql: String =
    """WITH toks AS (
         SELECT doc_id, lang, unnest(string_split_regex(text, '\s+')) AS w
         FROM documents),
       b AS (
         SELECT doc_id, lang,
           CAST(((instr('0123456789abcdef', substring(md5(w), 31, 1)) - 1) * 16
               + (instr('0123456789abcdef', substring(md5(w), 32, 1)) - 1)) % 64
             AS INT) AS bucket
         FROM toks),
       raw AS (SELECT bucket, count(*) AS rc FROM b GROUP BY 1),
       tgt AS (SELECT bucket, count(*) AS tc FROM b WHERE lang = 'en' GROUP BY 1),
       tot AS (SELECT (SELECT count(*) FROM b) AS tr,
                      (SELECT count(*) FROM b WHERE lang = 'en') AS tt),
       wts AS (
         SELECT r.bucket,
           CAST(floor(1e6 * (ln((coalesce(t.tc, 0) + 1.0) / (tot.tt + 64))
                           - ln((r.rc + 1.0) / (tot.tr + 64)))) AS BIGINT) AS w_micro
         FROM raw r LEFT JOIN tgt t USING (bucket) CROSS JOIN tot),
       db AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY 1, 2)
       SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
              CAST(sum(cnt * w_micro) AS BIGINT) AS dsir_micro,
              (sum(cnt * w_micro) > 0) AS keep
       FROM db JOIN wts USING (bucket)
       GROUP BY doc_id ORDER BY doc_id"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p40_dsir_resample", query, Some(oracleSql)))
}
