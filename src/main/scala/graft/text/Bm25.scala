package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P36: BM25 ranked retrieval — the inverted-index search primitive
  * (Robertson–Spärck Jones probabilistic relevance, the Lucene default
  * scoring) a corpus pipeline uses for querying, benchmark-mining, and
  * retrieval-based decontamination.
  *
  * Scale shape (100 TB): postings = ONE (doc, term) aggregation (map-side
  * combinable); document lengths derive from the same postings (sum of
  * tf per doc — no second tokenize pass); term statistics are a
  * term-keyed aggregation; the query set is tiny and broadcast, so
  * scoring touches only the postings of queried terms — the inverted-
  * index access path, never a corpus scan. Global top-k per query is
  * Spark's distributed TakeOrdered shape via window-per-query over the
  * already-filtered candidates. The only driver scalars are N and the
  * corpus-average document length.
  *
  * Query workload: deterministic, derived from corpus statistics — the 6
  * highest-df terms (df desc, term asc), paired into 3 two-term queries
  * (rank i joins rank i+3), so the DuckDB oracle replays query
  * construction, scoring, and ranking from the raw table alone.
  */
object Bm25 {

  /** Top-k docs per query by BM25(k1=1.2, b=0.75), Lucene idf
    * ln(1 + (N−df+0.5)/(df+0.5)). `queries` = (query_id, term) pairs. */
  def search(docs: DataFrame, idCol: String, textCol: String,
             queries: DataFrame, k: Int): DataFrame =
    searchFromTf(
      docs.select(col(idCol).as("doc_id"),
          explode(split(col(textCol), "\\s+")).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf")),
      docs.count(), queries, k)

  /** The postings-level core: BM25 over a prebuilt (doc_id, term, tf)
    * table — lets callers that already materialized postings (p48's
    * hybrid leg derives its query terms from the same table) score
    * without a second corpus tokenize. `excludeSelf` drops the document
    * whose id equals the query id BEFORE ranking (the more-like-this /
    * related-document form, where queries are seed docs). */
  def searchFromTf(tf: DataFrame, n: Long, queries: DataFrame, k: Int,
                   excludeSelf: Boolean = false): DataFrame = {
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // integer total / integer N on the driver: deterministic avgdl double
    val totTok = dl.agg(sum("dl")).head().getLong(0)
    val avgdl = totTok.toDouble / n
    val joined = broadcast(queries)
      .join(tf, Seq("term"))
      .join(dfreq, Seq("term"))
      .join(dl, Seq("doc_id"))
    val perTerm = (if (excludeSelf) joined.filter(col("doc_id") =!= col("query_id"))
                   else joined)
      .withColumn("sc",
        // literals written as the same decimal strings the oracle parses
        // (2.2 / 0.25 / 0.75 / 1.2) — NOT driver-computed K1+1.0 etc.,
        // whose rounding could differ from the SQL literal by one ulp
        log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)) *
          ((col("tf") * lit(2.2)) /
           (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / lit(avgdl))))))
    // ≤2 terms per query ⇒ the per-doc sum is a commutative 2-add: exact
    val agg = perTerm.groupBy("query_id", "doc_id")
      .agg(sum("sc").as("score_raw"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_raw").desc, col("doc_id"))
    agg.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"),
              round(col("score_raw"), 6).as("score"))
  }

  /** The deterministic corpus-derived query set: 6 top-df terms →
    * 3 two-term queries. Distributed top-k (orderBy+limit plans as
    * TakeOrderedAndProject), then a 6-row window assigns pairing. */
  def corpusQueries(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dfreq = docs
      .select(col(idCol).as("doc_id"),
              explode(split(col(textCol), "\\s+")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val top6 = dfreq.orderBy(col("df").desc, col("term")).limit(6)
    val w = Window.orderBy(col("df").desc, col("term"))
    top6.withColumn("rk", row_number().over(w))
      .select((((col("rk") - 1) % 3) + 1).cast("int").as("query_id"),
              col("term"))
  }

  /** p36: BM25 top-10 per derived query, oracle-checked. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    search(docs, "doc_id", "text",
           corpusQueries(docs, "doc_id", "text"), k = 10)
      .orderBy($"query_id", $"rank")
  }

  val oracleSql: String =
    """WITH toks AS (
         SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS term
         FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       stats AS (SELECT (SELECT count(*) FROM documents) AS n,
                        (SELECT sum(dl) FROM dl) AS tot),
       qterms AS (
         SELECT CAST(((rk - 1) % 3) + 1 AS INTEGER) AS query_id, term FROM (
           SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rk
           FROM dfreq) WHERE rk <= 6),
       scored AS (
         SELECT q.query_id, tf.doc_id,
           ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
             ((tf.tf * 2.2) /
              (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / (CAST(s.tot AS DOUBLE) / s.n))))) AS sc
         FROM qterms q
         JOIN tf ON q.term = tf.term
         JOIN dfreq ON tf.term = dfreq.term
         JOIN dl ON tf.doc_id = dl.doc_id
         CROSS JOIN stats s),
       agg AS (SELECT query_id, doc_id, sum(sc) AS score_raw
               FROM scored GROUP BY 1, 2)
       SELECT query_id, doc_id, rank, round(score_raw, 6) AS score FROM (
         SELECT query_id, doc_id, score_raw,
           row_number() OVER (PARTITION BY query_id
             ORDER BY score_raw DESC, doc_id) AS rank
         FROM agg) t
       WHERE rank <= 10
       ORDER BY query_id, rank"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p36_bm25_search", query, Some(oracleSql)))
}
