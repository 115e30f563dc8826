package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec}
import graft.functions.VectorOps
import graft.sim.IvfAnn
import graft.ml.ModelOracles.PlaceholderRoot

/** §2.4 U18 (u18): INCREMENTAL MAINTENANCE of the persisted ANN index —
  * the missing write path next to U10 (write-once IVF layout) and S7
  * (read-only serving): production vector stores ingest continuously,
  * and rebuilding a billion-vector inverted file per batch is not a
  * plan. The upsert shape:
  *
  *   1. route new vectors to cells with the PERSISTED centroids (the
  *      model does not move on ingest — re-clustering is a separate,
  *      rarer lifecycle event),
  *   2. rewrite ONLY the touched cell partitions via dynamic partition
  *      overwrite (U17's primitive: read the touched cells, union the
  *      arrivals, write back — untouched cells cost zero I/O and stay
  *      byte-identical, spec-proven),
  *   3. compact per cell in the same pass (U5's goal, achieved by
  *      `repartition(cell)` before the write: every touched cell's
  *      postings land in one task → ONE file per cell, so read
  *      amplification never grows with upsert count).
  *
  * Invariant (the "done" bar): a probe against the upserted index sees
  * EXACTLY the candidates a full rebuild under the same centroids would
  * produce — cell routing is a pure function of (vector, centroids), so
  * upsert-then-read ≡ rebuild-then-read, row for row (spec-pinned on a
  * clustered fixture; the query's n_misrouted column re-derives every
  * candidate's argmin cell from the persisted centroids and must be 0).
  *
  * Scale shape: at 100 TB the touched-cell read is partition-pruned
  * (only directories receiving arrivals are opened), the union+write
  * shuffles only touched-cell bytes, and probes stay partition-pruned
  * reads (u10). The oracle replays the per-query candidate aggregates
  * AND the routing invariant from the post-insert files themselves.
  */
object AnnUpsert {

  val NList = 16
  val NProbe = 3

  /** Hash-bucket insert split (the m6 lesson: never raw id modulo). */
  private[graft] def isInsert(vecId: Column): Column =
    conv(substring(md5(vecId.cast("string")), 1, 8), 16, 10)
      .cast("long") % 10 === 7

  /** Write (vec_id, v, src) postings partitioned by cell, one file per
    * cell (repartition(cell) → a cell's rows share one task). */
  private[operators] def writePostings(df: DataFrame, path: String, dynamic: Boolean): Unit = {
    val w = df.repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .parquet(path)
  }

  /** Assign cells with centroids and upsert `arrivals` into the postings
    * layout at `path`: read ONLY the touched cells, union, rewrite those
    * partitions (dynamic overwrite + per-cell compaction). */
  private[graft] def upsertVectors(spark: SparkSession, path: String,
                                       centroids: Array[Array[Double]],
                                       arrivals: DataFrame): Unit = {
    val routed = Materialize(arrivals // route once; the write must not re-plan it
      .withColumn("cell", IvfAnn.cellOf(col("v"), centroids))
      .select(col("vec_id"), col("v"), col("src"), col("cell")))
    val touched = routed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    // Eagerly materialize the touched-cell rows BEFORE the overwrite:
    // the write below dynamically overwrites the SAME path the scan
    // reads, and "scan fully drains before the commit deletes touched
    // partitions" is not a contract Spark guarantees (a static-mode
    // override or a mid-commit crash would delete the pre-upsert rows
    // while/before they are read — silent index data loss). The
    // checkpoint pins the old rows in memory/disk first, so the
    // overwrite never races its own input. Touched cells are a bounded
    // slice (arrival-sized, not index-sized), so this stays cheap at
    // any index size.
    val existing = Materialize(ScaleOps.prunedPostingsScan(spark, path, touched)
      .select(col("vec_id"), col("v"), col("src"), col("cell")))
    writePostings(existing.unionByName(routed), path, dynamic = true)
  }

  /** Persist centroids as (idx, centroid) parquet; read back sorted. */
  private def saveCentroids(spark: SparkSession, cs: Array[Array[Double]],
                            path: String): Unit = {
    import spark.implicits._
    cs.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("idx", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def loadCentroids(spark: SparkSession, path: String): Array[Array[Double]] = {
    import spark.implicits._
    spark.read.parquet(path).orderBy(col("idx"))
      .select(col("centroid")).as[Seq[Double]].collect().map(_.toArray)
  }

  /** u18: build the base index from the 90% hash split, upsert the 10%
    * arrivals through the dynamic-overwrite path, then serve probes
    * (the first 5 ARRIVAL vectors — their candidates must include
    * post-insert data) through the pruned read. Per query: candidate
    * aggregates + the routing invariant (n_misrouted re-derives every
    * candidate's argmin cell from the persisted centroids; must be 0).
    * Fails fast if no arrival is visible to any probe. */
  /** (vec_id, v) frame of the whole embeddings table. */
  private[graft] def vectors(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorOps.toDoubleArray(col("embedding")).as("v"))

  /** Build the BASE index under `root`/`prefix`: fit centroids on the
    * 90% hash split only (the model predates the arrivals), persist
    * them, write the base postings. Returns the centroids READ BACK
    * from the persisted file — routing must use the index's model as
    * written, not the in-memory fit. Rebuilt per invocation so the
    * subsequent upsert is idempotent across Verify/Bench runs. */
  private[graft] def buildBase(spark: SparkSession, dir: String,
                               prefix: String): Array[Array[Double]] = {
    val root = graft.ml.ModelOracles.modelRoot(dir)
    val base = vectors(spark, dir).filter(!isInsert(col("vec_id")))
      .withColumn("src", lit("base"))
    val fitted = IvfAnn.fitCentroids(base, "v", NList)
    saveCentroids(spark, fitted, s"$root/${prefix}_centroids")
    val centroids = loadCentroids(spark, s"$root/${prefix}_centroids")
    writePostings(
      base.withColumn("cell", IvfAnn.cellOf(col("v"), centroids))
        .select(col("vec_id"), col("v"), col("src"), col("cell")),
      s"$root/${prefix}_postings", dynamic = false)
    centroids
  }

  /** Serve probes (the first 5 arrivals) against the post-insert
    * postings at `root`/`prefix` via the pruned read; aggregate + gate
    * (arrivals visible, zero misrouted). Shared by u18 and s12. */
  private[graft] def probeAndAggregate(spark: SparkSession, dir: String, prefix: String,
                                       centroids: Array[Array[Double]]): DataFrame = {
    val root = graft.ml.ModelOracles.modelRoot(dir)
    val probes = vectors(spark, dir).filter(isInsert(col("vec_id")))
      .orderBy(col("vec_id")).limit(5)
      .select(col("vec_id").as("query_id"),
        explode(IvfAnn.probeCellsCol(
          IvfAnn.distances(col("v"), centroids), NList, NProbe)).as("cell"))
    probes.coalesce(1).write.mode("overwrite").parquet(s"$root/${prefix}_probes")
    val probesR = spark.read.parquet(s"$root/${prefix}_probes")
    val probedCells = probesR.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val res = ScaleOps.prunedPostingsScan(spark, s"$root/${prefix}_postings", probedCells)
      .join(probesR, Seq("cell"))
      .withColumn("argc", IvfAnn.cellOf(col("v"), centroids))
      .groupBy(col("query_id"))
      .agg(countDistinct(col("cell")).as("n_cells"),
           count(lit(1)).as("n_candidates"),
           sum(when(col("src") === "upsert", 1L).otherwise(0L)).as("n_new_candidates"),
           sum(col("vec_id")).as("id_checksum"),
           sum(aggregate(col("v"), lit(0L),
             (acc, x) => acc + floor(x * lit(1e6)).cast("long"))).as("emb_checksum"),
           sum(when(col("argc") =!= col("cell"), 1L).otherwise(0L)).as("n_misrouted"))
      .orderBy(col("query_id"))
    val out = graft.Scratch.local(res) // files stay: oracle replays them
    val rows = out.collect()
    require(rows.map(_.getAs[Long]("n_new_candidates")).sum > 0,
      s"$prefix gate: no upserted vector visible to any probe — the upsert is invisible")
    require(rows.map(_.getAs[Long]("n_misrouted")).sum == 0,
      s"$prefix gate: a candidate sits in a cell that is not its argmin centroid")
    out
  }

  def u18AnnUpsertQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.ml.ModelOracles.modelRoot(dir)
    val centroids = buildBase(spark, dir, "u18")
    val arrivals = vectors(spark, dir).filter(isInsert(col("vec_id")))
      .withColumn("src", lit("upsert"))
    upsertVectors(spark, s"$root/u18_postings", centroids, arrivals)
    probeAndAggregate(spark, dir, "u18", centroids)
  }

  /** DuckDB replay from the post-insert files: per-query candidate
    * aggregates plus the routing invariant — every candidate's argmin
    * cell re-derived from the persisted centroids (first-index-of-min,
    * the m3 argmax convention; distances in index order so the double
    * math is bit-identical to the fused sq_distance). */
  def oracleSqlFor(prefix: String): String =
    s"""WITH cents AS (
         SELECT array_agg(centroid ORDER BY idx) AS C
         FROM read_parquet('$PlaceholderRoot/${prefix}_centroids/*.parquet')),
       p AS (
         SELECT cell, vec_id, v, src
         FROM read_parquet('$PlaceholderRoot/${prefix}_postings/*/*.parquet',
                           hive_partitioning=1)),
       q AS (
         SELECT query_id, cell
         FROM read_parquet('$PlaceholderRoot/${prefix}_probes/*.parquet')),
       cand AS (
         SELECT q.query_id, p.cell, p.vec_id, p.v, p.src,
           [list_sum([(p.v[j] - cents.C[i][j]) * (p.v[j] - cents.C[i][j])
                      for j in range(1, len(p.v) + 1)])
            for i in range(1, len(cents.C) + 1)] AS dl
         FROM q JOIN p USING (cell) CROSS JOIN cents)
       SELECT query_id,
         CAST(count(DISTINCT cell) AS BIGINT) AS n_cells,
         count(*) AS n_candidates,
         CAST(sum(CASE WHEN src = 'upsert' THEN 1 ELSE 0 END) AS BIGINT) AS n_new_candidates,
         CAST(sum(vec_id) AS BIGINT) AS id_checksum,
         CAST(sum(list_sum(list_transform(v, x -> CAST(floor(x * 1e6) AS BIGINT)))) AS BIGINT)
           AS emb_checksum,
         CAST(sum(CASE WHEN list_position(dl, list_min(dl)) - 1 <> cell
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_misrouted
       FROM cand GROUP BY query_id ORDER BY query_id"""

  // u18: candidate aggregates + the routing invariant replayed from
  // the POST-INSERT files (centroids, postings, probes all persisted)
  def specs: Seq[QuerySpec] =
    Seq(QuerySpec("u18_ann_upsert", u18AnnUpsertQuery, Some(oracleSqlFor("u18"))))
}
