package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** P29: n-gram language-model quality scoring — the CCNet/Gopher-style
  * "perplexity filter": fit a bigram MLE model on the corpus itself,
  * score every document by its total bigram negative log-likelihood,
  * gate/bucket on the score. High-NLL docs are the gibberish/boilerplate
  * tail; low-NLL docs are repetitive templates.
  *
  * Exactness design: per-bigram NLL is quantized ONCE to integer
  * micro-nats (`floor(1e6·ln p)` — floor is toward −∞ on both engines)
  * and every downstream aggregate is an INTEGER sum, so the result is
  * independent of Spark's partition/merge order and DuckDB replays it
  * hash-exact — the established "sum exact integers, divide never"
  * oracle-parity rule applied to floating-point model scores.
  *
  * Scale shape: the bigram model is CORPUS-DERIVED and corpus-sized, so
  * nothing is broadcast — two shuffled aggregations build it and one
  * shuffled equi-join on the bigram key scores the docs (AQE broadcasts
  * if a small corpus makes the model tiny). At 100 TB the join key
  * would be a 64-bit bigram hash instead of the two strings (collision
  * odds there are the rounding noise of the score, not a correctness
  * gate); here the keys stay strings so the DuckDB oracle groups the
  * exact same domain.
  */
object LmQuality {

  /** Per-doc bigram LM score table, materialized once per (process,
    * dir): p29 orders it and p46's CCNet bucketing consumes it — the LM
    * fit + scoring pipeline runs once per run (the p2/p39 artifact
    * pattern). */
  def scoreTable(spark: SparkSession, dir: String): DataFrame =
    graft.ProcessArtifacts.table(spark, "p29_scores", dir) {
      buildScores(spark, dir)
    }

  /** Per-doc bigram LM score: (doc_id, n_bigrams, nll_micro). Docs with
    * fewer than 2 tokens carry no bigram evidence and are excluded on
    * both engines. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    scoreTable(spark, dir).orderBy($"doc_id")
  }

  private def buildScores(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = graft.Tables.documents(spark, dir)
      .select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
      .filter(size($"toks") >= 2)
    val bigrams = toks.select($"doc_id",
        explode(expr(
          "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS w1, toks[i+1] AS w2))"))
          .as("bg"))
      .select($"doc_id", $"bg.w1".as("w1"), $"bg.w2".as("w2"))
    val c12 = bigrams.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy($"w1").agg(sum($"c12").as("c1"))
    val model = c12.join(c1, "w1")
      .withColumn("nll_micro_bg",
        -floor(lit(1e6) * log($"c12".cast("double") / $"c1".cast("double")))
          .cast("long"))
      .select($"w1", $"w2", $"nll_micro_bg")
    bigrams.join(model, Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"nll_micro_bg").as("nll_micro"))
  }

  val oracleSql: String =
    """WITH toks AS (
         SELECT doc_id, string_split_regex(text, '\s+') AS l FROM documents
       ), bg AS (
         SELECT doc_id, unnest([{'w1': l[i], 'w2': l[i+1]}
                                for i in range(1, len(l))]) AS b
         FROM toks WHERE len(l) >= 2
       ), pairs AS (
         SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg
       ), c12 AS (
         SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2
       ), model AS (
         SELECT w1, w2,
           CAST(-floor(1e6 * ln(CAST(c12 AS DOUBLE) / c1)) AS BIGINT)
             AS nll_micro_bg
         FROM c12 JOIN (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1) t
           USING (w1)
       )
       SELECT p.doc_id, count(*) AS n_bigrams,
              CAST(sum(m.nll_micro_bg) AS BIGINT) AS nll_micro
       FROM pairs p JOIN model m ON p.w1 = m.w1 AND p.w2 = m.w2
       GROUP BY p.doc_id
       ORDER BY p.doc_id"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p29_lm_quality", query, Some(oracleSql)))
}
