package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P46: CCNet-style perplexity BUCKETING — the selection step that
  * consumes a perplexity filter's scores (Wenzek et al. 2020, "CCNet:
  * Extracting High Quality Monolingual Datasets from Web Crawl Data"):
  * split each source's documents into head / middle / tail by per-doc
  * LM perplexity terciles and keep head+middle — the mechanism CCNet,
  * LLaMA and RedPajama used to grade Common Crawl.
  *
  * Shape: per-doc scores come from the SHARED p29 score artifact (the
  * LM fit+score pipeline runs once per run); the normalized score is an
  * exact integer division artifact (floor of a correctly-rounded IEEE
  * quotient of two exact integers — bit-identical across engines); the
  * tercile thresholds are ONE tiny per-source aggregation (exact
  * interpolated percentile, q28 semantics) joined back broadcast. At
  * 100 TB: one corpus-keyed aggregation + a sources-sized broadcast —
  * the thresholds table is the only global state.
  *
  * Threshold-boundary determinism: both engines compute the
  * interpolated percentile as (1−g)·a + g·b over the same order
  * statistics with the same fraction literal; a document's own score is
  * always an order statistic, never strictly between two adjacent ones,
  * so the `<=` bucket comparisons cannot straddle an ulp.
  */
object CcnetSelect {

  /** p46: per-doc bucket decision record. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = LmQuality.scoreTable(spark, dir)
      .join(Tables.documents(spark, dir).select($"doc_id", $"source"), Seq("doc_id"))
      .withColumn("ppx_micro",
        floor($"nll_micro".cast("double") / $"n_bigrams").cast("long"))
    val th = scored.groupBy($"source").agg(
      expr("percentile(ppx_micro, 0.3333333333333333)").as("t1"),
      expr("percentile(ppx_micro, 0.6666666666666666)").as("t2"))
    scored.join(broadcast(th), Seq("source"))
      .select($"doc_id", $"source", $"n_bigrams", $"ppx_micro",
        when($"ppx_micro" <= $"t1", "head")
          .when($"ppx_micro" <= $"t2", "middle")
          .otherwise("tail").as("bucket"))
      .withColumn("keep", $"bucket" =!= "tail")
      .orderBy($"doc_id")
  }

  /** DuckDB replay: p29's LM refit+rescore CTEs + the same normalized
    * score, per-source quantile_cont terciles, and bucket rules. */
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
       ), nll AS (
         SELECT p.doc_id, count(*) AS n_bigrams,
                CAST(sum(m.nll_micro_bg) AS BIGINT) AS nll_micro
         FROM pairs p JOIN model m ON p.w1 = m.w1 AND p.w2 = m.w2
         GROUP BY p.doc_id
       ), scored AS (
         SELECT nll.doc_id, d.source, nll.n_bigrams,
           CAST(floor(CAST(nll.nll_micro AS DOUBLE) / nll.n_bigrams) AS BIGINT)
             AS ppx_micro
         FROM nll JOIN documents d ON nll.doc_id = d.doc_id
       ), th AS (
         SELECT source,
           quantile_cont(ppx_micro, 0.3333333333333333) AS t1,
           quantile_cont(ppx_micro, 0.6666666666666666) AS t2
         FROM scored GROUP BY source
       )
       SELECT s.doc_id, s.source, s.n_bigrams, s.ppx_micro,
         CASE WHEN s.ppx_micro <= th.t1 THEN 'head'
              WHEN s.ppx_micro <= th.t2 THEN 'middle'
              ELSE 'tail' END AS bucket,
         (CASE WHEN s.ppx_micro <= th.t1 THEN 'head'
               WHEN s.ppx_micro <= th.t2 THEN 'middle'
               ELSE 'tail' END) != 'tail' AS keep
       FROM scored s JOIN th USING (source)
       ORDER BY s.doc_id"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p46_ppx_buckets", query, Some(oracleSql)))
}
