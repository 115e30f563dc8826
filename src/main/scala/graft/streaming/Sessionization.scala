package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QuerySpec, Tables}

/** S2 (batch twin): gap-based sessionization as window algebra — the
  * classic lag → new-session flag → running-sum session id → group-by.
  * Semantically identical to [[EventStreams.sessionize]] (the spec
  * cross-checks them); this form is SQL-mirrorable so it carries the
  * DuckDB oracle for the sessionization semantics.
  *
  * Scale: one shuffle on user_id (window), then a map-side-combinable
  * aggregation on (user_id, session_id).
  */
object Sessionization {

  val GapMs: Long = 30 * 60 * 1000L

  def sessionsBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("prev_ms", lag(unix_millis($"ts"), 1).over(w))
      .withColumn("new_s",
        when($"prev_ms".isNull || unix_millis($"ts") - $"prev_ms" > GapMs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"new_s").over(wRun))
      .groupBy($"user_id", $"session_id")
      .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
           count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
      .orderBy($"user_id", $"session_id")
  }

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q22_sessions", sessionsBatch, Some(
      """SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
         count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM (
           SELECT user_id, event_id, ts, value,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM (
             SELECT user_id, event_id, ts, value,
               CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
                    THEN 1 ELSE 0 END AS new_s
             FROM events) t1) t2
         GROUP BY user_id, session_id
         ORDER BY user_id, session_id""")))
}
