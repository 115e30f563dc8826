package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** §2.4 U15: pipeline OBSERVABILITY — production telemetry (row counts,
  * gate pass rates, quality mass) collected DURING the main pass with
  * `Dataset.observe`, not by re-running aggregates afterwards. At
  * 100 TB the difference is one corpus scan versus two: observe()
  * attaches accumulator-backed metrics to the existing plan (Catalyst's
  * CollectMetrics node), they ride the pass the pipeline already makes,
  * and the driver reads them out when the action completes.
  *
  * The observed pipeline here is the p13-shaped curation gate (language
  * + quality rules over the corpus); the query's RESULT is the metrics
  * record itself — which the oracle recomputes as plain SQL aggregates,
  * certifying that in-flight telemetry equals the ground truth. All
  * observed values are counts or integer-micro sums (the p29/p34
  * quantization rule), so accumulation order cannot perturb them.
  */
object ObservedMetrics {

  /** u15: observe gate metrics on one curation pass; emit them as the
    * result row. */
  def u15ObservedMetricsQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir)
    // the p9-style row-local quality signal, integer-micro quantized so
    // the observed sum is an order-independent integer
    val toks = split($"text", "\\s+")
    val scored = docs.select(
      $"doc_id", $"lang", $"source",
      size(toks).as("n_words"),
      floor(lit(1e6) * size(array_distinct(toks)) / size(toks))
        .cast("long").as("uniq_micro"))
      .withColumn("keep",
        $"lang" === "en" && $"n_words" >= 5 && $"uniq_micro" >= 200000L)
    val obs = Observation("u15")
    val observed = scored.observe(obs,
      count(lit(1)).as("n_docs"),
      sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
      sum($"uniq_micro").as("uniq_micro_total"),
      // observe() forbids DISTINCT aggregates (accumulator-backed
      // metrics must be mergeable row-at-a-time) — telemetry sticks to
      // counts/sums; distinct cardinalities belong to q21's HLL path
      sum(when($"lang" === "en", 1L).otherwise(0L)).as("n_english"))
    // the pipeline's real action (writing the curated corpus); telemetry
    // rides this same pass
    observed.filter($"keep").select($"doc_id").count()
    val m = obs.get
    Seq((m("n_docs").asInstanceOf[Long],
         m("n_kept").asInstanceOf[Long],
         m("uniq_micro_total").asInstanceOf[Long],
         m("n_english").asInstanceOf[Long]))
      .toDF("n_docs", "n_kept", "uniq_micro_total", "n_english")
  }

  val oracleSql: String =
    """SELECT count(*) AS n_docs,
         CAST(sum(CASE WHEN lang = 'en' AND n_words >= 5
                        AND uniq_micro >= 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(sum(uniq_micro) AS BIGINT) AS uniq_micro_total,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_english
       FROM (
         SELECT doc_id, lang, source,
           len(t) AS n_words,
           CAST(floor(1e6 * len(list_distinct(t)) / len(t)) AS BIGINT) AS uniq_micro
         FROM (SELECT doc_id, lang, source,
                 regexp_split_to_array(text, '\s+') AS t
               FROM documents) x) y"""

  def specs: Seq[QuerySpec] =
    Seq(QuerySpec("u15_observed_metrics", u15ObservedMetricsQuery, Some(oracleSql)))
}
