package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}
import graft.functions.VectorOps
import graft.ml.ModelOracles.PlaceholderRoot

/** §2.3 P37: SemDeDup — semantic deduplication via cluster blocking
  * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
  * through semantic deduplication").
  *
  * The production alternative to the O(n²) exact embedding dedup (P5)
  * and the LSH-blocked path (P5b): cluster the corpus with k-means,
  * then compare pairs ONLY within a cluster. Semantically-duplicate
  * pairs sit close in embedding space, so they co-locate in a cell with
  * overwhelming probability; cross-cell pairs are never compared — that
  * is the operator's *defined* semantics (cluster-blocked dedup), which
  * is what lets the oracle replay it exactly.
  *
  * Scale shape (100 TB): `k` grows with the corpus (`n / targetCell`),
  * holding expected cell size constant — total verify work is
  * O(n · cellSize), not O(n²/k). Assignment is the fused argmin codegen
  * expression (narrow, no shuffle); the within-cell pair expansion is
  * ONE equi-join shuffled on cluster id, with both sides partitioned by
  * the same key. The fit keeps only the k×dim centroid matrix on the
  * driver.
  *
  * Correctness (m8/p28 persist-and-replay): fitted centroids are
  * persisted; DuckDB recomputes every assignment (same dimension-ordered
  * double arithmetic as the fused `sq_distance`) and every within-cell
  * cosine (same sequential-double accumulation as `dot_product`), so the
  * iterative fit's OUTPUT is hash-gated without replaying Lloyd steps.
  */
object SemDedup {

  private val fitted =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  /** Cells sized for bounded within-cell quadratic work. */
  private[graft] def nlistFor(n: Long, targetCell: Int = 512): Int =
    math.max(8, (n / targetCell).toInt)

  private[graft] def centroidsFor(
      spark: SparkSession, dir: String): Array[Array[Double]] =
    fitted.computeIfAbsent(dir, _ => {
      val emb = Tables.embeddings(spark, dir)
      val k = nlistFor(emb.count())
      // blocking quality needs few Lloyd rounds; 5 is flat on this fit
      val cs = graft.sim.IvfAnn.fitCentroids(emb, "embedding", k, maxIter = 5)
      val rows = cs.zipWithIndex.map { case (c, i) => (i, c) }
      spark.createDataFrame(rows.toSeq).toDF("cluster_id", "centroid")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${graft.ml.ModelOracles.modelRoot(dir)}/p37_centroids")
      cs
    })

  /** Scalable cell assignment: the centroid MATRIX rides one broadcast
    * and a typed mapPartitions loops it per row. The expression form
    * ([[graft.sim.IvfAnn.cellOf]] — k fused sq_distance exprs over
    * LITERAL centroid arrays) is right for ANN's small fixed nlist but
    * wrong here, where k grows with the corpus (n/targetCell): at the
    * 100× decade k = 390 makes a ~25k-literal expression tree — codegen
    * collapse, per-row distance-array allocs, and (unpersisted) it ran
    * once per downstream consumer. Arithmetic is BIT-IDENTICAL to the
    * fused expression and the oracle: squared distance accumulates in
    * dimension order, argmin keeps the first minimal index (the
    * `ORDER BY dist, cluster_id` tie-break). Spec-pinned against
    * cellOf. */
  private[graft] def assignCells(df: DataFrame, idCol: String, vecCol: String,
                                 centroids: Array[Array[Double]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    df.select(col(idCol).cast("long").as("vec_id"),
              VectorOps.toDoubleArray(col(vecCol)).as("vec"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, vecSeq) =>
          val x = vecSeq.toArray
          var best = 0; var bestD = Double.PositiveInfinity
          var ci = 0
          while (ci < cs.length) {
            val c = cs(ci)
            var s = 0.0; var j = 0
            while (j < x.length) { val d = x(j) - c(j); s += d * d; j += 1 }
            if (s < bestD) { bestD = s; best = ci }
            ci += 1
          }
          (id, x, best)
        }
      }.toDF("vec_id", "vec", "cluster")
  }

  /** Per-vector decision record: cluster, the lowest-id within-cell
    * semantic duplicate counterpart (`dup_of`, null when none at
    * cos ≥ threshold), and the keep flag. Deterministic: the kept
    * representative of every duplicate group is the lowest vec_id. */
  def decisions(df: DataFrame, idCol: String, vecCol: String,
                centroids: Array[Array[Double]],
                threshold: Double): DataFrame = {
    // materialized: the assigned frame feeds BOTH join sides and the
    // final left join — without it the assignment ran three times
    val v = Materialize(assignCells(df, idCol, vecCol, centroids)
      .withColumn("nrm", VectorOps.norm(col("vec"))))
    val a = v.select(col("cluster"), col("vec_id").as("id_a"),
                     col("vec").as("vec_a"), col("nrm").as("nrm_a"))
    val b = v.select(col("cluster"), col("vec_id").as("id_b"),
                     col("vec").as("vec_b"), col("nrm").as("nrm_b"))
    val dups = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        graft.functions.GraftFunctions.dot_product(col("vec_a"), col("vec_b")) /
          (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("dup_of"))
    v.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dup_of"),
              col("dup_of").isNull.as("keep"))
  }

  /** p37: SemDeDup decisions over the embeddings corpus at τ=0.4. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val centroids = centroidsFor(spark, dir)
    decisions(Tables.embeddings(spark, dir), "vec_id", "embedding",
              centroids, threshold = 0.4)
      .orderBy($"vec_id")
  }

  /** DuckDB replay from the persisted centroids: argmin assignment
    * (p28's arithmetic), within-cell sequential-double cosine (p5's),
    * min-counterpart per duplicate. Model path re-anchored by Verify. */
  val oracleSql: String =
    s"""WITH cent AS (
         SELECT cluster_id, centroid
         FROM read_parquet('$PlaceholderRoot/p37_centroids/*.parquet')),
       asn AS (
         SELECT vec_id, embedding, cluster FROM (
           SELECT e.vec_id, e.embedding, c.cluster_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               list_sum(list_transform(list_zip(e.embedding, c.centroid),
                 x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                    * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))),
               c.cluster_id) AS rk
           FROM embeddings e CROSS JOIN cent c) WHERE rk = 1),
       dups AS (
         SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
         FROM asn a JOIN asn b
           ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.4
         GROUP BY 1)
       SELECT asn.vec_id, CAST(asn.cluster AS INTEGER) AS cluster,
              d.dup_of, d.dup_of IS NULL AS keep
       FROM asn LEFT JOIN dups d ON asn.vec_id = d.vec_id
       ORDER BY asn.vec_id"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p37_semdedup", query, Some(oracleSql)))
}
