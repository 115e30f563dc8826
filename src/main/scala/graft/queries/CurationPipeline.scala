package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QuerySpec, Tables}
import graft.text.TextAnalysis

/** p13: the composed training-data curation pipeline — what all the §2.3
  * operators exist FOR, as one dataflow:
  *
  *   documents → exact-dedup (keep min doc_id per content hash)
  *            → language gate (stopword-score argmax = 'en')
  *            → quality gate (distinct-ratio blend ≥ τ)
  *            → per-source corpus stats.
  *
  * Everything is column algebra, so Catalyst fuses the gates into the
  * scan projection; the only shuffles are the dedup window and the final
  * per-source aggregate. Oracle-checked end-to-end in DuckDB.
  */
object CurationPipeline {

  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)

    val deduped = docs
      .withColumn("__rn", row_number().over(
        Window.partitionBy(md5($"text")).orderBy($"doc_id")))
      .filter($"__rn" === 1)

    val en = TextAnalysis.stopwords.head._2
    val gated = deduped
      .withColumn("toks", TextAnalysis.tokens($"text"))
      .withColumn("n_tokens", size($"toks"))
      .withColumn("score_en", TextAnalysis.stopwordHits("toks", en))
      // language gate: en must strictly beat every other language's hits
      .withColumn("is_en",
        TextAnalysis.stopwords.tail.map { case (_, ws) =>
          $"score_en" > TextAnalysis.stopwordHits("toks", ws)
        }.reduce(_ && _) && $"score_en" > 0)
      .withColumn("quality",
        lit(0.5) * (size(array_distinct($"toks")) / $"n_tokens") +
        lit(0.5) * least(lit(1.0), $"n_tokens" / 100.0))
      .filter($"is_en" && $"quality" >= 0.5)

    gated.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
           sum($"n_tokens".cast("long")).as("total_tokens"),
           round(avg($"quality"), 6).as("avg_quality"))
      .orderBy($"source")
  }

  val oracleSql: String =
    """SELECT source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(quality), 6) AS avg_quality
       FROM (
         SELECT source, len(toks) AS n_tokens,
           0.5 * (len(list_distinct(toks)) / len(toks)) +
           0.5 * least(1.0, len(toks) / 100.0) AS quality,
           len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) AS score_en,
           len(list_filter(toks, x -> list_contains(['le','la','les','de','et','un','une','dans','est','pour'], x))) AS score_fr,
           len(list_filter(toks, x -> list_contains(['el','los','las','y','que','una','en','es','para','por'], x))) AS score_es,
           len(list_filter(toks, x -> list_contains(['der','die','das','und','ein','eine','ist','nicht','mit','zu'], x))) AS score_de,
           len(list_filter(toks, x -> list_contains(['的','是','在','了','我','有','和','就','不','人'], x))) AS score_zh
         FROM (
           SELECT source, regexp_split_to_array(text, '\s+') AS toks
           FROM (
             SELECT source, text,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM documents) d
           WHERE rn = 1) t1) t2
       WHERE score_en > score_fr AND score_en > score_es
         AND score_en > score_de AND score_en > score_zh AND score_en > 0
         AND quality >= 0.5
       GROUP BY source
       ORDER BY source"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p13_curation_pipeline", query, Some(oracleSql)))
}
