package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P63 (p63): per-source DISTRIBUTION DIVERGENCE — the mixture
  * diagnostic every corpus-weighting decision leans on (DoReMi, DSIR
  * and the CCNet dashboards all start from "how far is this source's
  * token distribution from the corpus"): KL(source ‖ corpus) over the
  * unigram distributions,
  *
  *   KL(Pₛ‖P) = Σ_w Pₛ(w) · ln(Pₛ(w) / P(w)),
  *
  * plus the token share and vocabulary coverage per source. A source
  * with near-zero KL is redundant with the mixture; a high-KL source
  * is the one a re-weighting (p52's planner, p20's resampler) actually
  * moves the needle with. Pₛ is absolutely continuous w.r.t. P by
  * construction (every source word is a corpus word), so the KL is
  * finite and needs no smoothing.
  *
  * Exactness: both distributions are ratios of integer counts; each
  * word's contribution is ONE fixed-shape double expression over four
  * integers (cₛw, nₛ, cw, n), floor-quantized to 1e-12 units (pico) and
  * integer-summed per source — the p57/p59 discipline, so DuckDB
  * replays hash-exact. Scale shape: one (source, word) count aggregate
  * + one word-keyed join against the corpus counts (both map-side
  * combinable; 64-bit word hashes as keys at 100 TB), one source-keyed
  * integer sum. Nothing is broadcast, nothing collects.
  */
object MixtureDivergence {

  /** p63: (source, n_tokens, n_vocab, token_share, kl_pico). */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words = Tables.documents(spark, dir)
      .select($"source", explode(graft.text.TextAnalysis.tokens($"text")).as("word"))
    val sw = words.groupBy($"source", $"word").agg(count(lit(1)).as("csw"))
    val s = sw.groupBy($"source").agg(sum($"csw").as("ns"))
    val w = sw.groupBy($"word").agg(sum($"csw").as("cw"))
    val n = w.agg(sum($"cw")).head().getLong(0)
    sw.join(s, "source").join(w, "word")
      .withColumn("term",
        floor(lit(1e12) * ($"csw".cast("double") / $"ns") *
          log(($"csw".cast("double") / $"ns") /
              ($"cw".cast("double") / lit(n.toDouble)))).cast("long"))
      .groupBy($"source")
      .agg(sum($"csw").as("n_tokens"),
           count(lit(1)).as("n_vocab"),
           round(max($"ns").cast("double") / lit(n.toDouble), 9).as("token_share"),
           sum($"term").as("kl_pico"))
      .orderBy($"source")
  }

  /** DuckDB replay: identical count tables + the identical fixed-shape
    * per-word term. */
  val oracleSql: String =
    """WITH words AS (
         SELECT source, unnest(string_split_regex(text, '\s+')) AS word
         FROM documents),
       sw AS (SELECT source, word, count(*) AS csw FROM words GROUP BY 1, 2),
       s AS (SELECT source, sum(csw) AS ns FROM sw GROUP BY 1),
       w AS (SELECT word, sum(csw) AS cw FROM sw GROUP BY 1),
       n AS (SELECT CAST(sum(cw) AS DOUBLE) AS n FROM w)
       SELECT sw.source,
         CAST(sum(sw.csw) AS BIGINT) AS n_tokens,
         count(*) AS n_vocab,
         round(max(s.ns) / n.n, 9) AS token_share,
         CAST(sum(CAST(floor(1e12 * (CAST(sw.csw AS DOUBLE) / s.ns) *
           ln((CAST(sw.csw AS DOUBLE) / s.ns) / (CAST(w.cw AS DOUBLE) / n.n)))
           AS BIGINT)) AS BIGINT) AS kl_pico
       FROM sw JOIN s USING (source) JOIN w USING (word) CROSS JOIN n
       GROUP BY sw.source, n.n
       ORDER BY sw.source"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p63_kl_mixture", query, Some(oracleSql)))
}
