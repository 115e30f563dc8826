package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** §2.3 P41: Gopher-style rule-based quality filtering (Rae et al.
  * 2021, "Scaling Language Models: ... Gopher", Appendix A1.1 — the
  * rule bundle every subsequent pretraining pipeline reuses:
  * MassiveText/Gopher, RefinedWeb, Dolma, FineWeb). Each document gets
  * the full signal vector plus a per-rule verdict and the combined
  * keep decision, so downstream curation can re-threshold without
  * recomputing.
  *
  * Rules (document-level, thresholds adapted to this corpus's scale):
  *   - word count within [minWords, maxWords]
  *   - mean word length within [3, 10]
  *   - fraction of words containing an alphabetic character ≥ 0.8
  *   - at least 2 DISTINCT stopwords present (the "real prose" test)
  *   - duplicate-line fraction ≤ 0.30
  *
  * Spark shape (100 TB): every signal is a row-local array/HOF fold —
  * ZERO shuffles end-to-end (the orderBy is presentation-only); the
  * whole filter runs map-side at ingest rate, the property that makes
  * rule filtering the first stage of every at-scale curation stack.
  * Ratios are floor-quantized to millionths so every value is an exact
  * integer-derived decimal, replayable bit-for-bit by DuckDB.
  */
object GopherRules {

  val MinWords = 10       // corpus docs are short; Gopher's own is 50
  val MaxWords = 100000
  private val Stop = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")

  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stopLit = Stop.map(w => s"'$w'").mkString("array(", ",", ")")
    graft.Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens($"text"))
      .withColumn("lines", split($"text", "\n"))
      .withColumn("n_words", size($"toks").cast("long"))
      // mean word length, in millionths (integer-exact: sum·1e6 div n)
      .withColumn("mean_word_len_micro",
        expr("CAST(aggregate(toks, 0L, (acc, t) -> acc + length(t)) * 1000000 DIV size(toks) AS BIGINT)"))
      .withColumn("alpha_frac_micro",
        expr("CAST(size(filter(toks, t -> t rlike '[a-zA-Z]')) * 1000000 DIV size(toks) AS BIGINT)"))
      .withColumn("n_distinct_stop",
        expr(s"CAST(size(array_intersect(array_distinct(toks), $stopLit)) AS BIGINT)"))
      .withColumn("dup_line_frac_micro",
        expr("CAST((size(lines) - size(array_distinct(lines))) * 1000000 DIV size(lines) AS BIGINT)"))
      .select($"doc_id", $"n_words", $"mean_word_len_micro", $"alpha_frac_micro",
        $"n_distinct_stop", $"dup_line_frac_micro",
        ($"n_words" >= MinWords && $"n_words" <= MaxWords).as("ok_words"),
        ($"mean_word_len_micro" >= 3000000L && $"mean_word_len_micro" <= 10000000L).as("ok_word_len"),
        ($"alpha_frac_micro" >= 800000L).as("ok_alpha"),
        ($"n_distinct_stop" >= 2L).as("ok_stop"),
        ($"dup_line_frac_micro" <= 300000L).as("ok_dup_lines"))
      .withColumn("keep",
        $"ok_words" && $"ok_word_len" && $"ok_alpha" && $"ok_stop" && $"ok_dup_lines")
      .orderBy($"doc_id")
  }

  val oracleSql: String =
    """WITH t AS (
         SELECT doc_id,
           string_split_regex(text, '\s+') AS toks,
           string_split(text, chr(10)) AS lines
         FROM documents),
       s AS (
         SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(toks, x -> length(x))) * 1000000
                // len(toks) AS BIGINT) AS mean_word_len_micro,
           CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) * 1000000
                // len(toks) AS BIGINT) AS alpha_frac_micro,
           CAST(len(list_intersect(list_distinct(toks),
                ['the','a','of','and','to','in','is','that','it','for'])) AS BIGINT)
             AS n_distinct_stop,
           CAST((len(lines) - len(list_distinct(lines))) * 1000000
                // len(lines) AS BIGINT) AS dup_line_frac_micro
         FROM t)
       SELECT doc_id, n_words, mean_word_len_micro, alpha_frac_micro,
              n_distinct_stop, dup_line_frac_micro,
              (n_words >= 10 AND n_words <= 100000) AS ok_words,
              (mean_word_len_micro BETWEEN 3000000 AND 10000000) AS ok_word_len,
              (alpha_frac_micro >= 800000) AS ok_alpha,
              (n_distinct_stop >= 2) AS ok_stop,
              (dup_line_frac_micro <= 300000) AS ok_dup_lines,
              ((n_words >= 10 AND n_words <= 100000)
               AND (mean_word_len_micro BETWEEN 3000000 AND 10000000)
               AND (alpha_frac_micro >= 800000)
               AND (n_distinct_stop >= 2)
               AND (dup_line_frac_micro <= 300000)) AS keep
       FROM s ORDER BY doc_id"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p41_gopher_rules", query, Some(oracleSql)))
}
