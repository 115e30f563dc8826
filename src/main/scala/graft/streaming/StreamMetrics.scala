package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.QuerySpec

/** §2.5 S15 (s15): STREAMING LATE-DATA OBSERVABILITY — the production
  * debugging surface the S1–S14 queries assert around but never
  * expose: how many rows did the watermark silently drop? Batch-side
  * u15 (observe()) covers batch telemetry; this is its streaming twin,
  * read from the engine's own `StreamingQueryProgress.stateOperators.
  * numRowsDroppedByWatermark` counters — the number every on-call
  * engineer checks first when a streaming aggregate "loses" data.
  *
  * The u15 discipline (telemetry ≡ reality) is enforced by
  * CONSTRUCTION: the query plants a deterministic late cohort —
  * a parquet file of md5-sampled event copies older than
  * (max ts − 3 h) — staged to arrive in batch THREE. Three batches,
  * not two, because Spark's late-row filter runs against the
  * PREVIOUS batch's committed watermark (IncrementalExecution's
  * eventTimeWatermarkForLateEvents lags eventTimeWatermarkForEviction
  * by one batch — verified against the 4.1 StateStoreSaveExec append
  * path when a two-batch fixture silently dropped nothing): batch 1
  * (the full table, including the global max ts) computes the
  * (max ts − 1 h) watermark, batch 2 (an on-time cohort that must NOT
  * be dropped) commits it into the late filter, batch 3 delivers the
  * late cohort onto it. The telemetry counter is then emitted as an
  * output COLUMN and hash-gated: the DuckDB oracle recomputes the
  * planted-late count from the same md5 rule, so a drifting/lying
  * counter (or a watermark that stopped dropping) hash-mismatches,
  * and an in-query require pins counter == planted exactly.
  *
  * Scale shape: identical to s1 — one watermarked keyed window agg;
  * the observability costs nothing (the counters are maintained by
  * the state store regardless; reading recentProgress is
  * driver-side O(batches)).
  */
object StreamMetrics {

  private def md5Bucket(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  /** The planted split, shared by the query and its spec:
    * (full on-time table, late cohort, on-time batch-2 cohort). */
  private[streaming] def plantedCohorts(ev: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val late = ev
      .filter(col("ts") < lit(maxTs) - expr("INTERVAL 3 HOURS"))
      .filter(pmod(md5Bucket(concat(lit("s15:"), col("event_id"))), lit(97)) === 0)
      .withColumn("event_id", col("event_id") + lit(1000000000L))
    val extras = ev
      .filter(col("ts") >= lit(maxTs) - expr("INTERVAL 30 MINUTES"))
      .withColumn("event_id", col("event_id") + lit(2000000000L))
    (ev, late, extras)
  }

  /** Write `df` as ONE parquet file named `name` under `dir` with a
    * pinned mtime (the file source orders batches by mtime), by way of
    * a write to `work`, which is deleted after the move. */
  private def stageFile(df: DataFrame, dir: String, work: String,
                        name: String, mtime: Long): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(work)
    val part = new java.io.File(work).listFiles().filter(_.getName.endsWith(".parquet")).head
    val target = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.move(part.toPath, target)
    target.toFile.setLastModified(mtime)
    graft.Scratch.delete(work)
  }

  /** s15: the s1-shaped watermarked hourly aggregate driven through a
    * two-batch planted-late-data stream; per-type totals over the
    * EMITTED (watermark-finalized) windows, with the engine's dropped-
    * rows counter as a hash-gated column. */
  def s15StreamMetrics(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val (onTime, late, extras) = plantedCohorts(ev)
    graft.Scratch.collected("s15") { d =>
      val staged = java.nio.file.Files.createDirectory(java.nio.file.Paths.get(d, "stream")).toString
      stageFile(onTime, staged, s"$d/part", "0-ontime.parquet", 1000000L)
      stageFile(extras, staged, s"$d/part", "1-extras.parquet", 2000000L)
      stageFile(late, staged, s"$d/part", "2-late.parquet", 3000000L)
      val stream = spark.readStream
        .schema(onTime.schema)
        .option("maxFilesPerTrigger", "1") // one file per batch: the late
        .parquet(staged)                   // cohort must arrive AFTER the
                                           // watermark has COMMITTED into
                                           // the (one-batch-lagged) late
                                           // filter — see header
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
                col("n_events"), col("sum_value"))
      val name = "graft_s15_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions",
        math.max(4, spark.sparkContext.defaultParallelism / 4).toString)
      val dropped =
        try {
          // append mode: only watermark-FINALIZED windows are emitted —
          // the semantics that make late-row dropping happen at all
          val q = EventStreams.runToEnd("s15_ck")(agg.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(Trigger.AvailableNow()))
          q.recentProgress.flatMap(_.stateOperators)
            .map(_.numRowsDroppedByWatermark).sum
        } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      // the counter sits AFTER the batch's aggregation, so it counts the
      // late cohort's distinct (window, event_type) GROUPS, not raw rows
      // (86 planted rows → 85 groups at sf0.01 — found the off-by-one way)
      val planted = late
        .select(window(col("ts"), "1 hour"), col("event_type")).distinct().count()
      require(dropped == planted,
        s"s15: engine dropped-by-watermark counter $dropped != planted late group count " +
        s"$planted — watermark semantics or telemetry broken")
      spark.table(name)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_windows"), sum(col("n_events")).as("n_events"),
             round(sum(col("sum_value")), 2).as("sum_value"))
        .withColumn("dropped_late", lit(dropped))
        .orderBy(col("event_type"))
    }
  }

  /** DuckDB replay: emitted windows = epoch-aligned hour windows whose
    * END the final watermark (max ts − 1 h) has passed, fed by batch-1
    * rows plus the batch-2 on-time cohort (none land in an emitted
    * window, but the form is kept honest); dropped_late = distinct
    * (hour window, event_type) groups of the SAME md5 late rule the
    * plant used (the counter sits post-aggregation). Late rows never
    * reach an emitted window by construction (3 h + window ≤ 2 h < 1 h
    * margin). */
  val oracleSql: String =
    """WITH mx AS (SELECT max(ts) AS m FROM events),
       emitted AS (
         SELECT event_type, count(*) AS n, sum(value) AS sv,
                date_trunc('hour', ts) AS ws
         FROM events
         WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
               <= (SELECT m FROM mx) - INTERVAL 1 HOUR
         GROUP BY event_type, date_trunc('hour', ts)),
       lateN AS (
         SELECT count(*) AS d FROM (
           SELECT DISTINCT date_trunc('hour', ts), event_type FROM events
           WHERE ts < (SELECT m FROM mx) - INTERVAL 3 HOUR
             AND CAST(('0x' || substr(md5('s15:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 97 = 0))
       SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_windows,
              CAST(sum(n) AS BIGINT) AS n_events,
              round(sum(sv), 2) AS sum_value,
              (SELECT CAST(d AS BIGINT) FROM lateN) AS dropped_late
       FROM emitted
       GROUP BY event_type
       ORDER BY event_type"""

  // s15: the engine's numRowsDroppedByWatermark counter rides in the
  // output and the oracle recomputes the planted late cohort — a
  // lying counter hash-mismatches (u15's telemetry ≡ reality).
  def specs: Seq[QuerySpec] =
    Seq(QuerySpec("s15_stream_metrics", s15StreamMetrics, Some(oracleSql)))
}
