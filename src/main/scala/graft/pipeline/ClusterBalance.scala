package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.ml.ModelOracles.PlaceholderRoot

/** §2.3 P68 (p68): CLUSTER-BALANCED SAMPLING — the mixture-control
  * primitive the p28 clustering exists to feed (topic rebalancing /
  * per-cluster quotas in LLM data curation: DoReMi-class mixture
  * reweighting, cluster-based dedup-aware sampling): given the corpus
  * clustered by its embeddings, downsample every cluster to the SAME
  * size (the minimum cluster's population), picking each cluster's
  * keepers by content-addressed hash order — deterministic across
  * engines, retries, and partitionings. At a FIXED quota the cut is
  * per-cluster hash-order stable (an appended document displaces at
  * most the one keeper it out-hashes in its own cluster); note the
  * quota itself is the min cluster population, so an append that grows
  * the smallest cluster RAISES the quota and legitimately admits one
  * more keeper to every cluster — quota movement is a mixture-policy
  * change, not sample churn.
  *
  * Spark shape: cluster assignment is p28's narrow
  * nearest-persisted-centroid map (zero extra fit — the SAME persisted
  * centroids, so one index serves clustering, quotas, and the oracle);
  * the quota cut is one per-cluster top-m window over the md5 order.
  * Nothing corpus-sized touches the driver.
  *
  * Hash gate: per cluster, (population, kept count, md5 of the ordered
  * kept-id stream) — the oracle replays assignment from the persisted
  * centroids (p28's argmin form) and the same QUALIFY cut, so every
  * kept/dropped decision is certified, not just the counts.
  */
object ClusterBalance {

  /** p68: balance the embedding corpus across its 8 p28 clusters. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val centroids = DocClusters.centroidsFor(spark, dir, k = 8)
    val assigned = graft.Tables.embeddings(spark, dir)
      .select($"vec_id",
        graft.sim.IvfAnn.cellOf(
          graft.functions.VectorOps.toDoubleArray($"embedding"), centroids)
          .as("cluster"))
      .withColumn("h",
        conv(substring(md5($"vec_id".cast("string")), 1, 8), 16, 10).cast("long"))
    val sizes = assigned.groupBy($"cluster").agg(count(lit(1)).as("n_docs"))
    val quota = sizes.agg(min($"n_docs")).head().getLong(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster").orderBy($"h", $"vec_id")
    val kept = assigned
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= quota)
    kept.groupBy($"cluster")
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(",", sort_array(collect_list($"vec_id")))).as("kept_md5"))
      .join(sizes, "cluster")
      .select($"cluster", $"n_docs", $"n_kept", $"kept_md5")
      .orderBy($"cluster")
  }

  /** DuckDB replay: p28's nearest-centroid argmin, the same md5-order
    * QUALIFY cut at the min-cluster quota, the same kept-id digest. */
  val oracleSql: String =
    s"""WITH cent AS (
         SELECT cluster_id, centroid
         FROM read_parquet('$PlaceholderRoot/p28_centroids/*.parquet')),
       assigned AS (
         SELECT vec_id, cluster,
           CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
         FROM (
           SELECT e.vec_id, c.cluster_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               list_sum(list_transform(list_zip(e.embedding, c.centroid),
                 x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                    * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))),
               c.cluster_id) AS rk
           FROM embeddings e CROSS JOIN cent c) t WHERE rk = 1),
       sizes AS (SELECT cluster, count(*) AS n_docs FROM assigned GROUP BY cluster),
       q AS (SELECT min(n_docs) AS quota FROM sizes),
       kept AS (
         SELECT cluster, vec_id FROM assigned
         QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY h, vec_id)
           <= (SELECT quota FROM q))
       SELECT k.cluster, CAST(s.n_docs AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(CAST(k.vec_id AS VARCHAR), ',' ORDER BY k.vec_id)) AS kept_md5
       FROM kept k JOIN sizes s ON s.cluster = k.cluster
       GROUP BY k.cluster, s.n_docs
       ORDER BY k.cluster"""

  // p68: balanced per-cluster sampling replayed from p28's centroids.
  def specs: Seq[QuerySpec] = Seq(QuerySpec("p68_cluster_balance", query, Some(oracleSql)))
}
