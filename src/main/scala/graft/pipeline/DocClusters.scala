package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.QuerySpec
import graft.ml.ModelOracles.PlaceholderRoot

/** P28: corpus clustering over the embedding column — the diversity /
  * topic-balance primitive of a training-data pipeline (cluster-based
  * mixture control, per-topic sampling quotas, outlier surfacing all
  * key off a cluster id per document).
  *
  * Spark shape: the seeded distributed k-means fit already powering the
  * IVF coarse quantizer (MLlib, one tiny k×dim centroid matrix on the
  * driver) + the fused codegen nearest-centroid expression
  * (`IvfAnn.cellOf`) as a per-row map — assignment is ONE narrow pass,
  * no shuffle at all beyond the fit's own aggregates.
  *
  * Correctness pattern (the m8/m10/m12c persist-and-replay gate): the
  * fitted centroids are PERSISTED to parquet, and the oracle recomputes
  * every vector's argmin-distance cluster from the saved centroids in
  * DuckDB with the same dimension-ordered float arithmetic — the
  * iterative fit's OUTPUT is hash-gated end-to-end without the oracle
  * having to replicate Lloyd iterations.
  */
object DocClusters {

  private val fitted =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  /** Fit (memoized per sf-dir per JVM), persist centroids for the
    * oracle, return them. */
  private[graft] def centroidsFor(
      spark: SparkSession, dir: String, k: Int): Array[Array[Double]] =
    fitted.computeIfAbsent(dir, _ => {
      val cs = graft.sim.IvfAnn.fitCentroids(
        graft.Tables.embeddings(spark, dir), "embedding", k)
      val rows = cs.zipWithIndex.map { case (c, i) => (i, c) }
      spark.createDataFrame(rows.toSeq).toDF("cluster_id", "centroid")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${graft.ml.ModelOracles.modelRoot(dir)}/p28_centroids")
      cs
    })

  /** p28: (vec_id, cluster) assignment of every corpus vector to its
    * nearest fitted centroid — all-integer output, so the hash gate is
    * exact; ties (identical distances) resolve to the LOWEST cluster id
    * on both engines (array_position-of-min here, explicit
    * (dist, cluster_id) rank in the oracle). */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val centroids = centroidsFor(spark, dir, k = 8)
    graft.Tables.embeddings(spark, dir)
      .select($"vec_id",
        graft.sim.IvfAnn.cellOf(
          graft.functions.VectorOps.toDoubleArray($"embedding"), centroids)
          .as("cluster"))
      .orderBy($"vec_id")
  }

  /** DuckDB replay: nearest saved centroid per vector, same
    * dimension-ordered double arithmetic as the fused sq_distance
    * expression. The model path is re-anchored per run dir by Verify. */
  val oracleSql: String =
    s"""SELECT vec_id, CAST(cluster AS INTEGER) AS cluster FROM (
         SELECT e.vec_id, c.cluster_id AS cluster,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(list_zip(e.embedding, c.centroid),
               x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                  * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))),
             c.cluster_id) AS rk
         FROM embeddings e
         CROSS JOIN read_parquet('$PlaceholderRoot/p28_centroids/*.parquet') c
       ) WHERE rk = 1
       ORDER BY vec_id"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p28_doc_clusters", query, Some(oracleSql)))
}
