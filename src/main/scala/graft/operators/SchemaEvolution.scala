package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** §2.4 U14: SCHEMA EVOLUTION reads — the lakehouse add-a-column
  * contract on plain parquet: files written before the column existed
  * stay untouched (no table rewrite at 100 TB — the whole point), files
  * written after carry it, and a single read reconciles both vintages
  * with NULL for the missing column in old files.
  *
  * Spark shape: `mergeSchema` unions the file footers' schemas at
  * planning time; the scan then projects missing columns as NULL per
  * file — no data movement, no rewrite, pruning and pushdown untouched
  * (the evolved column simply isn't in old footers' stats). Downstream
  * code handles the vintage boundary with coalesce/defaults, exactly
  * how Delta/Iceberg readers surface added columns.
  *
  * The query writes two vintages of the orders table (v1 without, v2
  * with a `o_channel` column), reads them through one evolved scan, and
  * aggregates per channel with an explicit default for pre-evolution
  * rows. The oracle replays the vintage split and default from the raw
  * table — evolution is only correct if it is invisible to semantics.
  */
object SchemaEvolution {

  /** u14: two-vintage write + evolved read + per-channel aggregate. */
  def u14SchemaEvolutionQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.Scratch.collected("evolve") { tmp =>
      val orders = graft.Tables.orders(spark, dir)
      // vintage 1: the first half of history, before the column existed
      orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$tmp/vintage=1")
      // vintage 2: later files carry the evolved column
      orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          concat(lit("ch"), (col("o_orderkey") % 3).cast("string")).as("o_channel"))
        .write.mode("overwrite").parquet(s"$tmp/vintage=2")
      val evolved = spark.read.option("mergeSchema", "true").parquet(tmp)
      evolved
        .withColumn("channel", coalesce(col("o_channel"), lit("pre_evolution")))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_orders"),
             round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("channel"))
    }
  }

  val oracleSql: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'pre_evolution'
                   ELSE 'ch' || CAST(o_orderkey % 3 AS VARCHAR) END AS channel,
              count(*) AS n_orders,
              round(sum(o_totalprice), 2) AS sum_price
       FROM orders
       GROUP BY 1
       ORDER BY channel"""

  def specs: Seq[QuerySpec] =
    Seq(QuerySpec("u14_schema_evolution", u14SchemaEvolutionQuery, Some(oracleSql)))
}
