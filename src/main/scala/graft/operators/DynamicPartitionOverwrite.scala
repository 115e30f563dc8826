package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** §2.4 U17 (u17): DYNAMIC partition overwrite — the daily-backfill
  * primitive for 100 TB partitioned fact tables. The standard failure
  * it fixes: `mode("overwrite")` on a partitioned table is STATIC by
  * default — it deletes EVERY partition before writing, so a job that
  * recomputes one bad day nukes years of data. Dynamic mode
  * (`partitionOverwriteMode=dynamic`, set per-write so no session
  * state leaks) replaces ONLY the partitions the incoming frame
  * actually contains rows for; all other directories are untouched —
  * byte-for-byte, as the spec proves from the file listing.
  *
  * The scenario is the production backfill: a date-partitioned events
  * table; quality reprocessing finds one day's 'view' rows were bot
  * traffic and its values need a correction. The fixed frame (that
  * day only — filtered and corrected) is written with dynamic
  * overwrite; the read-back proves the target day was REPLACED (row
  * count changes — replacement, not append) and every other day
  * survived bit-identically.
  *
  * Scale shape: the patch write shuffles only the patch day's rows
  * (partitionBy routes them to one directory); untouched partitions
  * cost ZERO I/O — at 100 TB that is the difference between rewriting
  * 100 TB and rewriting one day. The read-back aggregation prunes on
  * the partition column like u8.
  */
object DynamicPartitionOverwrite {

  val PatchDay = "2024-01-11"

  /** Write `base` date-partitioned, then dynamic-overwrite the patch
    * day with `patch` (which must contain only patch-day rows).
    * Returns the table path; caller deletes. */
  private[operators] def writeAndPatch(base: DataFrame, patch: DataFrame,
                                       path: String): Unit = {
    base.withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date").mode("overwrite").parquet(path)
    patch.withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date")
      .option("partitionOverwriteMode", "dynamic") // per-write, not session
      .mode("overwrite").parquet(path)
  }

  /** The corrected patch-day frame: bot 'view' rows dropped, values
    * corrected by +10 (the reprocessing output). */
  private[operators] def patchFrame(events: DataFrame): DataFrame =
    events.filter(to_date(col("ts")) === lit(PatchDay).cast("date"))
      .filter(col("event_type") =!= "view")
      .withColumn("value", col("value") + lit(10.0))

  /** u17: full backfill round-trip — write, dynamic-patch one day,
    * aggregate the final table per (day, type). The patch day shows
    * the corrected rows (no 'view', +10 values); every other day is
    * the original data. */
  def u17DynamicOverwriteQuery(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
              col("ts"), col("value"))
    graft.Scratch.collected("dynpart") { tmp =>
      writeAndPatch(events, patchFrame(events), tmp)
      spark.read.parquet(tmp)
        .filter(col("event_date") >= lit("2024-01-10").cast("date") &&
                col("event_date") <= lit("2024-01-12").cast("date"))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             round(sum(col("value")), 2).as("sum_value"))
        .select(col("event_date").cast("timestamp").as("event_day"),
                col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("event_day"), col("event_type"))
    }
  }

  /** DuckDB replay of the FINAL table state: the patch day carries the
    * corrected rows, every other day the originals. */
  val oracleSql: String =
    """WITH final AS (
         SELECT event_type, CAST(ts AS DATE) AS event_date, value
         FROM events WHERE CAST(ts AS DATE) <> DATE '2024-01-11'
         UNION ALL
         SELECT event_type, CAST(ts AS DATE) AS event_date, value + 10.0 AS value
         FROM events
         WHERE CAST(ts AS DATE) = DATE '2024-01-11' AND event_type <> 'view')
       SELECT CAST(event_date AS TIMESTAMP) AS event_day, event_type,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 2) AS sum_value
       FROM final
       WHERE event_date BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
       GROUP BY 1, 2 ORDER BY 1, 2"""

  def specs: Seq[QuerySpec] =
    Seq(QuerySpec("u17_dynamic_overwrite", u17DynamicOverwriteQuery, Some(oracleSql)))
}
