package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P15: TF-IDF term weighting — the inverted-index relevance
  * primitive a curation pipeline uses for keyword extraction, topic
  * gating, and boilerplate detection.
  *
  * Scale shape: one explode + (doc, term) aggregation (map-side
  * combinable), one term-level aggregation for document frequency, one
  * shuffled (AQE-broadcastable) join of term stats back to the postings,
  * and a per-doc top-k window. No cross products, no driver-side loops;
  * the only driver scalar is the corpus size N.
  */
object TfIdf {

  /** Top-k terms per document by smoothed TF-IDF:
    * score = tf · (ln((N+1)/(df+1)) + 1). */
  def topTerms(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 5): DataFrame = {
    val n = docs.count()
    val tf = docs
      .select(col(idCol).as("doc_id"),
              explode(split(col(textCol), "\\s+")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_raw").desc, col("term"))
    // Plain shuffled join on term: the dictionary is vocabulary-sized and at
    // 100 TB can be billions of terms — an unconditional broadcast would OOM
    // the driver. AQE still converts this to a broadcast join at runtime
    // whenever dfreq is actually under the threshold, so small corpora lose
    // nothing. Both sides are already hash-partitioned on `term` from their
    // own aggregations, so the join reuses that partitioning.
    tf.join(dfreq, Seq("term"))
      .withColumn("score_raw",
        col("tf") * (log((lit(n) + 1.0) / (col("df") + 1.0)) + 1.0))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("rank"),
              round(col("score_raw"), 6).as("score"))
  }

  /** p15: top-5 TF-IDF terms per document, oracle-checked. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    topTerms(Tables.documents(spark, dir), "doc_id", "text", 5)
      .orderBy($"doc_id", $"rank")
  }

  val oracleSql: String =
    """WITH toks AS (
         SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS term
         FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       n AS (SELECT count(*) AS n FROM documents)
       SELECT doc_id, term, rank, round(score_raw, 6) AS score FROM (
         SELECT tf.doc_id, tf.term,
           tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0) AS score_raw,
           row_number() OVER (PARTITION BY tf.doc_id
             ORDER BY tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0) DESC,
                      tf.term) AS rank
         FROM tf, dfreq, n WHERE tf.term = dfreq.term) t
       WHERE rank <= 5
       ORDER BY doc_id, rank"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p15_tfidf_topterms", query, Some(oracleSql)))
}
