package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}
import graft.functions.VectorOps

/** svm-scale parity: the reference ecosystem's feature-scaling
  * preprocessing step (libsvm's `svm-scale` binary) — fit per-dimension
  * (min, max) over the training vectors, then affinely rescale every
  * vector into [lower, upper].
  *
  * Scale shape: the fit is ONE distributed aggregate keyed by dimension
  * index (bounded key count, partial aggregation per partition), and the
  * driver holds only 2·dim doubles; applying the scale is a narrow
  * per-row map with the ranges broadcast as literals.
  */
object FeatureScale {

  /** Per-dimension (min, max) over an array<double> column. */
  def fitStats(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))

  /** Rescale vectors to [lower, upper] with the fitted ranges (constant
    * dimensions map to `lower`, like svm-scale's degenerate case). */
  def applyScale(df: DataFrame, vecCol: String, outCol: String,
                 mins: Array[Double], maxs: Array[Double],
                 lower: Double = 0.0, upper: Double = 1.0): DataFrame = {
    val mnLit = array(mins.map(lit(_)): _*)
    val spanLit = array(mins.indices.map(i =>
      lit(if (maxs(i) > mins(i)) (upper - lower) / (maxs(i) - mins(i)) else 0.0)): _*)
    df.withColumn(outCol,
      zip_with(zip_with(col(vecCol), mnLit, (x, mn) => x - mn), spanLit,
        (d, s) => d * s + lower))
  }

  /** m13: the fit made driver-visible — per-dimension raw range plus the
    * scaled-space mean, all derivable (and DuckDB-replayable) from one
    * pass of per-dim aggregates. mean_scaled = (mean − min)/(max − min)
    * certifies the affine map without shipping per-row vectors. */
  def m13FeatureScale(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir)
      .select(VectorOps.toDoubleArray(col("embedding")).as("v"))
      .select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"), avg(col("x")).as("av"))
      .select(col("dim"),
        round(col("mn"), 6).as("min_raw"),
        round(col("mx"), 6).as("max_raw"),
        round(when(col("mx") > col("mn"),
          (col("av") - col("mn")) / (col("mx") - col("mn"))).otherwise(0.0), 6)
          .as("mean_scaled"))
      .orderBy(col("dim"))
  }

  def specs: Seq[QuerySpec] = Seq(
    // m13: svm-scale parity — per-dimension raw range + scaled-space
    // mean derived from one pass of per-dim aggregates.
    QuerySpec("m13_feature_scale", m13FeatureScale, Some(
      """WITH d AS (
           SELECT unnest(generate_series(1, len(embedding))) AS pos, embedding
           FROM embeddings),
         x AS (SELECT pos, CAST(embedding[pos] AS DOUBLE) AS x FROM d),
         s AS (SELECT pos, min(x) AS mn, max(x) AS mx, avg(x) AS av
               FROM x GROUP BY pos)
         SELECT CAST(pos - 1 AS BIGINT) AS dim,
           round(mn, 6) AS min_raw, round(mx, 6) AS max_raw,
           round(CASE WHEN mx > mn THEN (av - mn) / (mx - mn) ELSE 0.0 END, 6)
             AS mean_scaled
         FROM s ORDER BY dim""")))
}
