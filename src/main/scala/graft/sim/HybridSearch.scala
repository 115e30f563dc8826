package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}

/** §2.3 P48: HYBRID retrieval — sparse (BM25) + dense (embedding
  * cosine) legs fused by Reciprocal Rank Fusion (Cormack, Clarke &
  * Büttcher, SIGIR'09: score = Σ_legs 1/(k₀+rank), k₀=60). The
  * production related-document query: every modern retrieval stack
  * (and retrieval-based decontamination at corpus scale) runs exactly
  * this two-legged shape, because sparse catches lexical matches dense
  * misses and vice versa, and RRF needs no score calibration between
  * legs — only ranks.
  *
  * Queries are SEED DOCUMENTS (more-like-this): the sparse leg queries
  * the corpus with the seed's top-2 tf terms (derived from the same
  * postings table the scorer uses — one corpus tokenize total); the
  * dense leg ranks by cosine against the seed's embedding (the
  * embeddings table indexes the same corpus: vec_id ≡ doc_id by the
  * data contract). Both legs exclude the seed itself before ranking.
  *
  * Scale shape: the seed set is bounded and broadcast in both legs;
  * the sparse leg touches only queried-term postings (p36's
  * inverted-index access path); the dense leg here is the exact
  * brute-force scorer so the oracle can replay it — the 100 TB swap-in
  * is the u10 partition-pruned IVFADC layout serving the same
  * (query_id, doc_id, rank) contract. Fusion is a (query_id, doc_id)
  * full-outer equi-join of two rank tables ≤ k·|seeds| rows each —
  * negligible next to either leg.
  *
  * Determinism: RRF contributions are integer-floored micro-units
  * (1e6 div (60+rank)) so fused scores are order-independent integer
  * sums, exact in both engines — no float leaves the rank domain.
  */
object HybridSearch {

  val RrfK0 = 60
  val LegK = 20
  val TopK = 10
  val SeedIds: Seq[Long] = Seq(0L, 1L, 2L)

  /** p48: RRF-fused top-10 related documents per seed doc. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    // one postings build feeds seed-term derivation AND scoring
    val tf = postings(spark, dir)
    Materialize.scoped(tf)(Materialize(fused(spark, dir, tf)))
  }

  /** The (doc_id, term, tf) postings [[fused]] reads twice. */
  private[graft] def postings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(split($"text", "\\s+")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
  }

  /** The un-checkpointed dataflow over the cached [[postings]]. */
  private[graft] def fused(spark: SparkSession, dir: String, tf: DataFrame): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val n = docs.count()
    // seed query terms: top-2 by (tf desc, term) per seed — 2 terms so
    // the per-doc BM25 sum stays a commutative 2-add (exact, p36's rule)
    val wSeed = Window.partitionBy($"doc_id").orderBy($"tf".desc, $"term")
    val seedTerms = tf.filter($"doc_id".isin(SeedIds: _*))
      .withColumn("rk", row_number().over(wSeed))
      .filter($"rk" <= 2)
      .select($"doc_id".as("query_id"), $"term")
    val sparse = graft.text.Bm25
      .searchFromTf(tf, n, seedTerms, LegK, excludeSelf = true)
      .select($"query_id".cast("long").as("query_id"), $"doc_id",
        $"rank".as("rank_sparse"))
    val dense = Knn.bruteForce(emb, emb.filter($"vec_id".isin(SeedIds: _*)),
        "vec_id", "embedding", LegK)
      .select($"query_id".cast("long").as("query_id"),
        $"neighbor_id".as("doc_id"), $"rank".as("rank_dense"))
    val wFuse = Window.partitionBy($"query_id")
      .orderBy($"rrf_micro".desc, $"doc_id")
    sparse.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr(s"1000000 div ($RrfK0 + rank_sparse)"), lit(0L)) +
        coalesce(expr(s"1000000 div ($RrfK0 + rank_dense)"), lit(0L)))
      .withColumn("fused_rank", row_number().over(wFuse).cast("long"))
      .filter($"fused_rank" <= TopK)
      .select($"query_id", $"doc_id", $"fused_rank", $"rrf_micro",
        $"rank_sparse", $"rank_dense")
      .orderBy($"query_id", $"fused_rank")
  }

  /** DuckDB replay: identical postings, seed-term derivation, BM25 leg
    * with self-exclusion, cosine leg, and integer-micro RRF fusion. */
  val oracleSql: String =
    s"""WITH toks AS (
         SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS term
         FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       stats AS (SELECT (SELECT count(*) FROM documents) AS n,
                        (SELECT sum(dl) FROM dl) AS tot),
       seedterms AS (
         SELECT doc_id AS query_id, term FROM (
           SELECT doc_id, term,
             row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS rk
           FROM tf WHERE doc_id IN (0, 1, 2)) t
         WHERE rk <= 2),
       scored AS (
         SELECT q.query_id, tf.doc_id,
           ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
             ((tf.tf * 2.2) /
              (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / (CAST(s.tot AS DOUBLE) / s.n))))) AS sc
         FROM seedterms q
         JOIN tf ON q.term = tf.term
         JOIN dfreq ON tf.term = dfreq.term
         JOIN dl ON tf.doc_id = dl.doc_id
         CROSS JOIN stats s
         WHERE tf.doc_id <> q.query_id),
       sparse AS (
         SELECT query_id, doc_id, rank_sparse FROM (
           SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score_raw DESC, doc_id) AS rank_sparse
           FROM (SELECT query_id, doc_id, sum(sc) AS score_raw
                 FROM scored GROUP BY 1, 2) a) r
         WHERE rank_sparse <= $LegK),
       dense AS (
         SELECT query_id, doc_id, rank_dense FROM (
           SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cs DESC, doc_id) AS rank_dense
           FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
               list_sum(list_transform(list_zip(q.embedding, c.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cs
             FROM embeddings q, embeddings c
             WHERE q.vec_id IN (0, 1, 2) AND q.vec_id <> c.vec_id) t1) t2
         WHERE rank_dense <= $LegK),
       fused AS (
         SELECT coalesce(s.query_id, d.query_id) AS query_id,
                coalesce(s.doc_id, d.doc_id) AS doc_id,
                s.rank_sparse, d.rank_dense,
                coalesce(1000000 // ($RrfK0 + s.rank_sparse), 0)
                  + coalesce(1000000 // ($RrfK0 + d.rank_dense), 0) AS rrf_micro
         FROM sparse s
         FULL OUTER JOIN dense d
           ON s.query_id = d.query_id AND s.doc_id = d.doc_id)
       SELECT query_id, doc_id,
         CAST(fused_rank AS BIGINT) AS fused_rank,
         CAST(rrf_micro AS BIGINT) AS rrf_micro,
         CAST(rank_sparse AS BIGINT) AS rank_sparse,
         CAST(rank_dense AS BIGINT) AS rank_dense
       FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY rrf_micro DESC, doc_id) AS fused_rank
         FROM fused) f
       WHERE fused_rank <= $TopK
       ORDER BY query_id, fused_rank"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p48_hybrid_search", query, Some(oracleSql)))
}
