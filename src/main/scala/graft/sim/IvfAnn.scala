package graft.sim

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}
import graft.functions.{GraftFunctions, VectorOps}
import graft.ml.ModelOracles.PlaceholderRoot

/** §2.3 P7b: IVF (inverted-file) approximate nearest neighbors — the
  * second scale path next to [[LshAnn]], and the standard ANN layout for
  * billion-vector corpora.
  *
  * A coarse quantizer (distributed k-means, seeded → deterministic)
  * partitions the corpus into `nlist` cells; each vector is stored under
  * its nearest centroid (the "inverted file"). A query probes only its
  * `nprobe` closest cells and ranks those candidates with the exact
  * fused cosine. Recall is governed by nprobe/nlist; cost drops from
  * O(n) per query to O(n·nprobe/nlist).
  *
  * Scale shape: centroids are a driver-side nlist×dim matrix embedded as
  * literals (nlist is small by design); cell assignment is one narrow
  * codegen'd map; the candidate join shuffles on cell id — at 100 TB the
  * corpus side would be written bucketed/partitioned BY cell so probes
  * touch only matching files (partition pruning), which is exactly how
  * disk-resident IVF indexes lay out postings.
  */
object IvfAnn {

  /** Seeded distributed k-means over the vector column. */
  def fitCentroids(df: DataFrame, vecCol: String, nlist: Int,
                   seed: Long = 42L, maxIter: Int = 20): Array[Array[Double]] = {
    val feats = df.select(
      array_to_vector(VectorOps.toDoubleArray(col(vecCol))).as("features"))
    val km = new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features")
    km.fit(feats).clusterCenters.map(_.toArray)
  }

  /** Array of squared distances to every centroid — ONE fused loop
    * carrying the centroid table as a reference object (identical
    * arithmetic/order to the per-centroid sq_distance literal trees it
    * replaced; those put nlist×dim literal nodes into every plan that
    * touched a centroid — see CodebookExpressions). */
  private[graft] def distances(vec: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.CodebookExpressions.centroidSqDistances(vec, centroids)

  /** Index of the nearest centroid (0-based; first index on ties —
    * exactly the old array_position(array_min) semantics). */
  def cellOf(vec: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.CodebookExpressions.centroidArgmin(vec, centroids)

  /** The `nprobe` nearest cell ids, from the distance array. */
  private[graft] def probeCellsCol(dCol: Column, nlist: Int, nprobe: Int): Column = {
    // sort (distance, idx) pairs, take nprobe, project idx
    val zipped = arrays_zip(dCol.as("d"), sequence(lit(0), lit(nlist - 1)).as("i"))
    transform(slice(array_sort(zipped), 1, nprobe), p => p.getField("i"))
  }

  /** Approximate top-k neighbors per query via IVF cell probing. */
  def annTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
              seed: Long = 42L): DataFrame =
    annTopKWith(fitCentroids(corpus, vecCol, nlist, seed),
      corpus, queries, idCol, vecCol, k, nlist, nprobe)

  /** Approximate top-k with pre-fit centroids (the probe pipeline of
    * [[annTopK]] without the fit — what the persisted-centroid replay
    * path and the p7b query share). */
  def annTopKWith(centroids: Array[Array[Double]], corpus: DataFrame,
                  queries: DataFrame, idCol: String, vecCol: String,
                  k: Int, nlist: Int, nprobe: Int): DataFrame = {
    val c = corpus
      .select(col(idCol).as("neighbor_id"),
              VectorOps.toDoubleArray(col(vecCol)).as("nvec"))
      .withColumn("cell", cellOf(col("nvec"), centroids))
    val q = queries
      .select(col(idCol).as("query_id"),
              VectorOps.toDoubleArray(col(vecCol)).as("qvec"))
      .withColumn("cell",
        explode(probeCellsCol(distances(col("qvec"), centroids), nlist, nprobe)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", GraftFunctions.cosine_sim(col("qvec"), col("nvec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
              round(col("cos"), 6).as("cos_sim"))
  }

  private val fitted =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  /** Fit (memoized per sf-dir per JVM) and PERSIST the coarse-quantizer
    * centroids — the p28 persist-and-replay discipline: with the
    * centroids on disk, every downstream step of the IVF pipeline
    * (cell assignment, probe selection, candidate join, cosine rank,
    * and the recall annotation itself) is deterministic arithmetic the
    * DuckDB oracle replays bit-exactly, so the p7b row is hash-gated
    * end-to-end instead of rows-only. */
  private[graft] def centroidsFor(spark: SparkSession, dir: String,
                                  nlist: Int): Array[Array[Double]] =
    // memo key carries nlist — a different-parameter caller gets its own fit
    fitted.computeIfAbsent(s"$dir#$nlist", _ => {
      val cs = fitCentroids(Tables.embeddings(spark, dir), "embedding", nlist)
      val rows = cs.zipWithIndex.map { case (c, i) => (i, c) }
      spark.createDataFrame(rows.toSeq).toDF("cluster_id", "centroid")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${graft.ml.ModelOracles.modelRoot(dir)}/p7b_centroids")
      cs
    })

  /** p7b: IVF top-10 for the first 5 vectors, annotated with measured
    * recall vs the exact top-k and failing fast below the floor (modest
    * here for the same near-random-corpus reason as p7; the spec
    * asserts 1.0 on clustered fixtures where IVF's cell structure
    * matches the data). Hash-gated: the oracle replays the whole probe
    * pipeline from the persisted centroids. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val q = e.filter($"vec_id" < 5)
    val centroids = centroidsFor(spark, dir, nlist = 16)
    AnnRecall.annotate(
        annTopKWith(centroids, e, q, "vec_id", "embedding", 10, nlist = 16, nprobe = 4),
        e, q, "vec_id", "embedding", 10,
        minRecall = 0.2, label = "p7b_ann_ivf")
      .orderBy($"query_id", $"rank")
  }

  /** DuckDB replay from the persisted centroids: nearest-cell
    * assignment (p28's argmin form), nprobe-smallest probe cells,
    * candidate join, cosine rank (p6's form), and the recall columns
    * recomputed against the exact brute-force top-k. */
  val oracleSql: String = {
    val sqDist =
      """list_sum(list_transform(list_zip(%s, c.centroid),
         x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"""
    val cos =
      """list_sum(list_transform(list_zip(q.embedding, n.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          * sqrt(list_sum(list_transform(n.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""
    s"""WITH cent AS (
         SELECT cluster_id, centroid
         FROM read_parquet('$PlaceholderRoot/p7b_centroids/*.parquet')),
       cells AS (
         SELECT vec_id, cluster_id AS cell FROM (
           SELECT e.vec_id, c.cluster_id,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               ${sqDist.format("e.embedding")}, c.cluster_id) AS rk
           FROM embeddings e CROSS JOIN cent c) WHERE rk = 1),
       probes AS (
         SELECT vec_id AS query_id, cluster_id AS cell FROM (
           SELECT e.vec_id, c.cluster_id,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               ${sqDist.format("e.embedding")}, c.cluster_id) AS rk
           FROM embeddings e CROSS JOIN cent c
           WHERE e.vec_id < 5) WHERE rk <= 4),
       approx AS (
         SELECT query_id, neighbor_id, rank, round(cs, 6) AS cos_sim FROM (
           SELECT query_id, neighbor_id, cs,
             row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rank
           FROM (
             SELECT p.query_id, n.vec_id AS neighbor_id, $cos AS cs
             FROM probes p
             JOIN cells cl ON cl.cell = p.cell
             JOIN embeddings n ON n.vec_id = cl.vec_id
             JOIN embeddings q ON q.vec_id = p.query_id
             WHERE n.vec_id <> p.query_id) t1) t2
         WHERE rank <= 10),
       exact AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rank
           FROM (
             SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, $cos AS cs
             FROM embeddings q, embeddings n
             WHERE q.vec_id < 5 AND q.vec_id <> n.vec_id) t1) t2
         WHERE rank <= 10),
       ov AS (
         SELECT a.query_id, count(*) AS n_overlap
         FROM approx a JOIN exact e
           ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         GROUP BY a.query_id)
       SELECT a.query_id, a.neighbor_id, a.rank, a.cos_sim,
         CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS exact_overlap,
         CAST(10 AS BIGINT) AS k,
         round(coalesce(ov.n_overlap, 0) / 10.0, 6) AS recall
       FROM approx a LEFT JOIN ov ON a.query_id = ov.query_id
       ORDER BY a.query_id, a.rank"""
  }

  // p7b/p7c replay their whole index pipelines from persisted
  // centroids/codebooks — hash-gated like p28.
  def specs: Seq[QuerySpec] = Seq(QuerySpec("p7b_ann_ivf", query, Some(oracleSql)))
}
