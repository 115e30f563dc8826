package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec}

/** §2.4 U12: file-statistics data skipping — the lakehouse min/max
  * manifest (Delta/Iceberg data skipping, Snowflake pruning) on plain
  * parquet. A clustered layout is summarized ONCE into a file-level
  * manifest (file → min/max of the cluster key + row count); a range
  * query consults the manifest FIRST and plans its scan over only the
  * files whose [min,max] envelope intersects the predicate, then applies
  * the residual filter to the rows it actually reads.
  *
  * This is coarser-grained than parquet's own row-group stats (which
  * Spark already uses once a file is opened) and complements it: at
  * 100 TB the win is never LISTING/OPENING the 99% of files a narrow
  * time-range query cannot match — the manifest is aggregate-sized
  * (one row per file) and replaces a full file-listing + footer read
  * per query. Here the selected file list is collected to the driver
  * (bounded: one row per file, exactly what a lakehouse driver does
  * with its manifest); on a cluster the manifest lives as its own
  * table and this collect is the metadata query planners run.
  *
  * The query result must equal the same aggregate over the RAW table —
  * skipping is only correct if it is invisible — which is what the
  * DuckDB oracle certifies; StatsSkippingSpec asserts the pruning
  * actually drops files and that boundary files are kept.
  */
object StatsSkipping {

  /** File-level manifest of a parquet layout: (file, min_key, max_key,
    * n_rows) per physical file. One scan at layout-build time — the
    * ANALYZE/stats-collection step a lakehouse write performs inline. */
  def buildManifest(spark: SparkSession, path: String, keyCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(keyCol)).as("min_key"),
           max(col(keyCol)).as("max_key"),
           count(lit(1)).as("n_rows"))

  /** Files whose stats envelope can satisfy `key >= lo AND key < hi`.
    * A file is skippable iff max < lo or min >= hi — the complement is
    * kept, so boundary files (envelope touching the range) survive. */
  def filesForRange(manifest: DataFrame, lo: Column, hi: Column): Seq[String] =
    manifest.filter(col("max_key") >= lo && col("min_key") < hi)
      .select(col("file")).collect().map(_.getString(0)).toSeq

  /** Manifest-pruned scan for `keyCol >= lo AND keyCol < hi`: read only
    * the surviving files, then apply the residual row filter (stats are
    * an envelope, not a proof — rows outside the range can share a file
    * with rows inside it). Returns an empty frame with the layout's
    * schema when no file survives. */
  def skippingScan(spark: SparkSession, path: String, manifest: DataFrame,
                   keyCol: String, lo: Column, hi: Column): DataFrame = {
    val files = filesForRange(manifest, lo, hi)
    val base =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          spark.read.parquet(path).schema)
      else spark.read.parquet(files: _*)
    base.filter(col(keyCol) >= lo && col(keyCol) < hi)
  }

  /** u12: orders rewritten range-clustered by o_orderdate, manifested,
    * then a half-year revenue query served through the manifest-pruned
    * scan; the oracle aggregates the raw table. */
  def u12StatsSkippingQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.Scratch.collected("skip") { tmp =>
      ScaleOps.writeRangeLayout(graft.Tables.orders(spark, dir), "o_orderdate", 8, tmp)
      // manifest is file-count-sized; built once
      val manifest = Materialize(buildManifest(spark, tmp, "o_orderdate"))
      val lo = lit("1995-01-01").cast("timestamp")
      val hi = lit("1995-07-01").cast("timestamp")
      skippingScan(spark, tmp, manifest, "o_orderdate", lo, hi)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
             round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    }
  }

  val oracleSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
              round(sum(o_totalprice), 2) AS sum_price
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1995-01-01'
         AND o_orderdate <  TIMESTAMP '1995-07-01'
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority"""

  def specs: Seq[QuerySpec] =
    Seq(QuerySpec("u12_stats_skipping", u12StatsSkippingQuery, Some(oracleSql)))
}
