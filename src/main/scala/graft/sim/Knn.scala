package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QuerySpec, Tables}
import graft.functions.VectorOps

/** §2.3 P6: brute-force cosine top-k similarity search.
  *
  * Scale: the query set is broadcast (bounded), the corpus streams — one
  * pass, no shuffle for the scoring; the shuffle is only the per-query
  * top-k window, keyed on query_id. For corpus×corpus workloads use
  * [[LshAnn]] instead.
  */
object Knn {

  /** Top-k cosine neighbors per query row (self-matches excluded). */
  def bruteForce(corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
                          VectorOps.toDoubleArray(col(vecCol)).as("nvec"))
    val q = queries.select(col(idCol).as("query_id"),
                           VectorOps.toDoubleArray(col(vecCol)).as("qvec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      // fused native expression: one codegen'd loop per pair instead of
      // three aggregate(zip_with(...)) passes; bit-identical accumulation
      .withColumn("cos", graft.functions.GraftFunctions.cosine_sim(col("qvec"), col("nvec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
              round(col("cos"), 6).as("cos_sim"))
  }

  /** p6: top-10 neighbors for the first 5 vectors (oracle-checked). */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    bruteForce(e, e.filter($"vec_id" < 5), "vec_id", "embedding", 10)
      .orderBy($"query_id", $"rank")
  }

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("p6_knn_bruteforce", query, Some(
      """SELECT query_id, neighbor_id, rank, round(cs, 6) AS cos_sim FROM (
           SELECT query_id, neighbor_id, cs,
             row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rank
           FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(list_zip(q.embedding, c.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cs
             FROM embeddings q, embeddings c
             WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id) t1) t2
         WHERE rank <= 10
         ORDER BY query_id, rank""")))
}
