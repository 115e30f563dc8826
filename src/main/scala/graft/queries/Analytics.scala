package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** Behavioral / time-series analytics over the events stream: ordered
  * funnels, retention cohorts, sliding windows, histogram binning, and
  * co-moment statistics. These are the OLAP workloads a user of a
  * large-scale analytics engine runs daily around the ML pipeline; each
  * carries an exact DuckDB oracle.
  *
  * Scale notes (100 TB): every query here is aggregate-shaped — events
  * reduce to per-user / per-window / per-bin rows before any join, so
  * the shuffled intermediates are bounded by |users| / |windows| / |bins|,
  * not by |events|. No query materializes raw events past the first scan.
  */
object Analytics {

  /** R31 — ordered funnel: signup → first click AFTER signup → first
    * purchase AFTER that click, per user, then one summary row.
    *
    * The stage dependency (each min-timestamp is conditioned on the
    * previous stage's) makes this inherently multi-pass; each pass scans
    * events with the stage's `event_type` filter PUSHED to the parquet
    * scan and aggregates to one row per user before joining, so the
    * join inputs are user-sized, not event-sized.
    */
  def q32Funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select($"user_id", $"event_type", $"ts")
    val signup = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("t1"))
    val click = ev.filter($"event_type" === "click")
      .join(signup, "user_id").filter($"ts" > $"t1")
      .groupBy($"user_id").agg(min($"ts").as("t2"))
    val purchase = ev.filter($"event_type" === "purchase")
      .join(click, "user_id").filter($"ts" > $"t2")
      .groupBy($"user_id").agg(min($"ts").as("t3"))
    signup
      .join(click.select($"user_id", $"t2"), Seq("user_id"), "left")
      .join(purchase.select($"user_id", $"t3"), Seq("user_id"), "left")
      .agg(
        count(lit(1)).as("n_signup"),
        count($"t2").as("n_signup_click"),
        count($"t3").as("n_full_funnel"),
        // exact integer-microsecond sum, ONE division at the end — the
        // oracle does the same, so both engines divide identical values
        // (a per-row divide-then-average would accumulate order-dependent
        // double error on this side only)
        round((sum(unix_micros($"t3") - unix_micros($"t1")).cast("double")
          / count($"t3")) / lit(1000000.0), 4).as("avg_secs_to_purchase"))
  }

  /** R32 — weekly retention cohorts: cohort = week of a user's first
    * event; one row per (cohort_week, week_offset) with distinct active
    * users. First-seen is a per-user aggregate joined back to the
    * (user, week)-deduped activity set — both sides are user-sized.
    */
  def q33Retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val weeks = Tables.events(spark, dir)
      .select($"user_id", date_trunc("week", $"ts").as("wk"))
      .distinct()
    val first = weeks.groupBy($"user_id").agg(min($"wk").as("cohort_week"))
    weeks.join(first, "user_id")
      .withColumn("week_offset", expr("datediff(wk, cohort_week) div 7").cast("long"))
      .groupBy($"cohort_week", $"week_offset")
      .agg(countDistinct($"user_id").as("n_active"))
      .orderBy($"cohort_week", $"week_offset")
  }

  /** R33 — sliding-window aggregation (batch twin of the streaming
    * window op): 1-hour windows sliding every 15 minutes, per event
    * type. Spark's `window()` expands each event into its 4 covering
    * windows before the aggregate — output is |window slots| × |types|,
    * independent of |events|.
    */
  def q34SlidingWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "1 hour", "15 minutes"), $"event_type")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
      .select($"window.start".as("window_start"), $"event_type",
              $"n_events", $"sum_value")
      .orderBy($"window_start", $"event_type")
  }

  /** R34 — fixed-width histogram binning (width_bucket class): order
    * totals into 25k-wide bins with a clamped top bin. Pure column
    * algebra into a bin key, then one hash aggregate.
    */
  def q35Histogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val width = 25000.0
    Tables.orders(spark, dir)
      .withColumn("bin", least(floor($"o_totalprice" / width), lit(19.0)).cast("long"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_orders"),
           round(sum($"o_totalprice"), 2).as("sum_price"),
           round(min($"o_totalprice"), 2).as("min_price"),
           round(max($"o_totalprice"), 2).as("max_price"))
      .withColumn("bin_lo", ($"bin" * width).cast("double"))
      .select($"bin", $"bin_lo", $"n_orders", $"sum_price", $"min_price", $"max_price")
      .orderBy($"bin")
  }

  /** R36 — time-series gap filling (forward fill / LOCF): error events
    * mask their reading; each row carries the last non-null value seen
    * in its user's timeline. One partitioned window, no global order —
    * the standard sensor/telemetry repair op.
    */
  def q37GapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .filter($"user_id" < 20)
      .withColumn("reading", when($"event_type" =!= "error", $"value"))
      .withColumn("filled",
        round(last($"reading", ignoreNulls = true).over(w), 2))
      .select($"user_id", $"event_id", $"ts",
        $"reading".isNull.as("was_gap"), $"filled")
      .orderBy($"user_id", $"ts", $"event_id")
  }

  /** R37 — distribution window functions: quartile bucket, percent_rank
    * and cume_dist of event values within each event type. The order
    * key includes event_id so ranks are total and both engines agree.
    */
  def q38WindowDistribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
    Tables.events(spark, dir)
      .filter($"user_id" < 10)
      .select($"event_type", $"event_id", $"value",
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy($"event_type", $"value", $"event_id")
  }

  /** R35 — co-moment statistics per group: stddev / variance /
    * covariance / correlation of event value against the user key.
    * Single-pass partial-moment aggregation (Welford merge) on both
    * engines; rounded to 6 so the last-ulp merge-order difference
    * between engines can't flip a digit.
    */
  def q36CorrStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Spark returns NaN where DuckDB returns NULL (singleton groups,
    // zero-variance corr); normalize to NULL so parity holds on ANY
    // group shape, not just the current fixtures
    def nullIfNaN(c: Column): Column = when(!isnan(c), c)
    Tables.events(spark, dir)
      .withColumn("uid", $"user_id".cast("double"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        round(nullIfNaN(stddev_samp($"value")), 6).as("sd_value"),
        round(nullIfNaN(var_samp($"value")), 6).as("var_value"),
        round(nullIfNaN(covar_samp($"value", $"uid")), 6).as("cov_value_uid"),
        round(nullIfNaN(corr($"value", $"uid")), 6).as("corr_value_uid"))
      .orderBy($"event_type")
  }

  /** q34's oracle, shared by s6 (the same windows through the streaming
    * engine). */
  val slidingWindowsSql: String =
    """SELECT make_timestamp(
             ((epoch_us(ts) // 1000000 // 900) * 900 - 900 * g.g) * 1000000)
             AS window_start,
           event_type, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
         FROM events, (SELECT unnest(generate_series(0, 3)) AS g) g
         GROUP BY 1, 2 ORDER BY 1, 2"""

  def specs: Seq[QuerySpec] = Seq(
    // q32: ordered funnel — each stage's first-hit must strictly follow
    // the previous stage's. The latency average is computed from exact
    // integer microsecond sums so both engines divide identical doubles.
    QuerySpec("q32_funnel", q32Funnel, Some(
      """WITH s AS (
           SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
         c AS (
           SELECT e.user_id, min(e.ts) AS t2 FROM events e
           JOIN s ON e.user_id = s.user_id
           WHERE e.event_type = 'click' AND e.ts > s.t1 GROUP BY e.user_id),
         p AS (
           SELECT e.user_id, min(e.ts) AS t3 FROM events e
           JOIN c ON e.user_id = c.user_id
           WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
         SELECT CAST(count(*) AS BIGINT) AS n_signup,
           CAST(count(t2) AS BIGINT) AS n_signup_click,
           CAST(count(t3) AS BIGINT) AS n_full_funnel,
           round(CAST(sum(epoch_us(t3) - epoch_us(t1)) AS DOUBLE)
                 / count(t3) / 1000000.0, 4) AS avg_secs_to_purchase
         FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""")),
    // q33: weekly retention cohorts (both engines truncate weeks to
    // Monday; offsets are exact day diffs div 7 between week starts).
    QuerySpec("q33_retention", q33Retention, Some(
      """WITH wk AS (
           SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
         fw AS (SELECT user_id, min(wk) AS cohort_week FROM wk GROUP BY user_id)
         SELECT cohort_week,
           CAST(date_diff('day', cohort_week, wk) // 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
         FROM wk JOIN fw USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""")),
    // q34: sliding windows — every event belongs to exactly the 4
    // epoch-aligned 15-min-slide windows that cover it, replayed here by
    // integer arithmetic on microsecond epochs.
    QuerySpec("q34_sliding_windows", q34SlidingWindows, Some(slidingWindowsSql)),
    // q35: fixed-width histogram with clamped top bin.
    QuerySpec("q35_histogram", q35Histogram, Some(
      """SELECT bin, bin * 25000.0 AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
         FROM (
           SELECT o_totalprice,
             least(CAST(floor(o_totalprice / 25000.0) AS BIGINT), 19) AS bin
           FROM orders) t
         GROUP BY bin ORDER BY bin""")),
    // q36: co-moment statistics; both engines use single-pass partial
    // moments, rounded to 6 so merge-order ulps can't flip a digit.
    QuerySpec("q36_corr_stats", q36CorrStats, Some(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(stddev_samp(value), 6) AS sd_value,
           round(var_samp(value), 6) AS var_value,
           round(covar_samp(value, CAST(user_id AS DOUBLE)), 6) AS cov_value_uid,
           round(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_value_uid
         FROM events GROUP BY event_type ORDER BY event_type""")),
    // q37: forward fill — last non-masked value per user timeline.
    QuerySpec("q37_gap_fill", q37GapFill, Some(
      """SELECT user_id, event_id, ts,
           (reading IS NULL) AS was_gap,
           round(last_value(reading IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS filled
         FROM (
           SELECT user_id, event_id, ts,
             CASE WHEN event_type != 'error' THEN value END AS reading
           FROM events WHERE user_id < 20) t
         ORDER BY user_id, ts, event_id""")),
    // q38: distribution window functions over a total order (the
    // event_id tiebreak makes ranks deterministic on both engines).
    QuerySpec("q38_window_dist", q38WindowDistribution, Some(
      """SELECT event_type, event_id, value,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
         FROM events
         WHERE user_id < 10
         WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
         ORDER BY event_type, value, event_id""")))
}
