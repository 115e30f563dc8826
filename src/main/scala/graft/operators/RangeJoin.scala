package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** R39: range (interval) join — `points ⋈ intervals` on
  * `key equal AND start <= t < end` — as a BINNED EQUI-join.
  *
  * A naive interval join is an inequality join, which Spark plans as a
  * broadcast-nested-loop or cartesian product: O(|points|·|intervals|)
  * comparisons per key, a non-starter when both sides are event-scale.
  * The scale shape (the same one the Databricks range-join hint and
  * Flink's interval join use) turns the inequality into an equality on a
  * quantized time axis:
  *
  *   1. choose a bin width W on the order of the typical interval
  *      length (correct for ANY W; W governs only the copy count);
  *   2. each interval [start, end) is exploded to the bins it overlaps —
  *      (len div W) + 1 copies, ≤ 2 when W ≥ maxLen;
  *   3. each point lands in exactly ONE bin (t div W), so the
  *      shuffled equi-join on (key…, bin) produces every qualifying
  *      pair exactly once — no post-join dedup — and only pairs within
  *      one bin of each other are ever compared;
  *   4. the true predicate `start <= t < end` runs as a cheap residual
  *      filter on the joined rows.
  *
  * Work drops from O(n·m) per key to O(pairs-within-W), the join is a
  * plain shuffled hash/sort-merge join (AQE handles skewed bins), and
  * nothing is broadcast — both sides stream at 100 TB. Timestamps are
  * BIGINTs in any unit (callers pass e.g. `unix_micros(ts)`); they must
  * be non-negative (integer `div` truncates toward zero, which is floor
  * only for non-negative values — event-time epochs always qualify).
  *
  * Ref: behavior modeled on interval/range joins in public engines
  * (DuckDB ASOF/IEJoin family, Flink interval join); implementation is
  * the standard binning decomposition, expressed as Spark dataflow.
  */
object RangeJoin {

  /** Generic binned points-in-intervals join. Column names of `points`
    * and `intervals` must be disjoint apart from `keys`. Empty/inverted
    * intervals (end <= start) match nothing and are dropped up front.
    *
    * @param binWidth bin width in the timestamp unit; any positive
    *                 value is correct (long intervals just explode to
    *                 more copies) — size it near the max interval
    *                 length to keep the copy factor ≤ 2.
    */
  def pointsInIntervals(
      points: DataFrame,
      intervals: DataFrame,
      keys: Seq[String],
      pointTs: String,
      startCol: String,
      endCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val w = lit(binWidth)
    // floor of a double quotient: exact while ts < 2^53 (epoch micros
    // stay below that until ~year 2255), and codegen-friendly. Pair
    // coverage needs only that binOf is MONOTONE and identical on both
    // sides — s <= t <= e-1 then implies binOf(s) <= binOf(t) <=
    // binOf(e-1), so a point always lands in one of its interval's
    // exploded bins whatever the rounding does at a boundary.
    def binOf(c: Column): Column = floor(c.cast("double") / w).cast("long")
    val ivs = intervals
      .filter(col(startCol) < col(endCol))
      .withColumn("__bin",
        explode(sequence(binOf(col(startCol)), binOf(col(endCol) - lit(1)))))
    val pts = points.withColumn("__bin", binOf(col(pointTs)))
    pts.join(ivs, keys :+ "__bin")
      .filter(col(pointTs) >= col(startCol) && col(pointTs) < col(endCol))
      .drop("__bin")
  }

  /** Interval-overlap join: pairs with `[ls,le) ∩ [rs,re) ≠ ∅` on equal
    * keys, via the same binning. Both sides explode to their overlapped
    * bins, so a joined pair would surface once per SHARED bin — instead
    * of a dedup pass, keep only the copy where the join bin equals the
    * bin of the overlap's START (`greatest(ls, rs)`): that instant lies
    * inside both intervals, so both sides exploded its bin exactly once
    * and every qualifying pair survives exactly once — dedup for free,
    * decided row-locally inside the joined filter (no extra shuffle).
    * Column names must be disjoint apart from `keys`.
    */
  def intervalOverlapJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftStart: String, leftEnd: String,
      rightStart: String, rightEnd: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val w = lit(binWidth)
    def binOf(c: Column): Column = floor(c.cast("double") / w).cast("long")
    def binned(df: DataFrame, s: String, e: String) = df
      .filter(col(s) < col(e))
      .withColumn("__bin",
        explode(sequence(binOf(col(s)), binOf(col(e) - lit(1)))))
    binned(left, leftStart, leftEnd)
      .join(binned(right, rightStart, rightEnd), keys :+ "__bin")
      .filter(col(leftStart) < col(rightEnd) &&
              col(rightStart) < col(leftEnd) &&
              col("__bin") === binOf(greatest(col(leftStart), col(rightStart))))
      .drop("__bin")
  }

  /** 6h post-error click attribution window for the driver query. */
  private[graft] val WindowUs: Long = 21600L * 1000000L

  /** q40: clicks within 6h after an error by the same user — an
    * event-scale × event-scale interval join (both sides grow with the
    * corpus; nothing is broadcastable), emitted as exact-integer pairs
    * so the oracle hash-matches. DuckDB replays it as a plain
    * inequality join (its IEJoin), independently deriving the same
    * pairs through a different join algorithm.
    */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
      .withColumn("ts_us", unix_micros($"ts"))
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"event_id".as("error_id"),
              $"ts_us".as("start_us"))
      .withColumn("end_us", $"start_us" + lit(WindowUs))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), $"ts_us")
    pointsInIntervals(clicks, errors, Seq("user_id"),
        "ts_us", "start_us", "end_us", WindowUs)
      .select($"user_id", $"error_id", $"click_id",
              ($"ts_us" - $"start_us").as("delta_us"))
      .orderBy($"user_id", $"error_id", $"click_id")
  }

  /** q41: error windows overlapping purchase windows (6h each, same
    * user) with the exact overlap length — the intervals×intervals
    * variant, again big×big with nothing broadcastable. Emitted as
    * exact integers for the hash gate; DuckDB replays with a plain
    * double-inequality join.
    */
  def overlapQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
      .withColumn("ts_us", unix_micros($"ts"))
    def windows(tpe: String, idCol: String, s: String, e: String) =
      ev.filter($"event_type" === tpe)
        .select($"user_id", $"event_id".as(idCol), $"ts_us".as(s))
        .withColumn(e, col(s) + lit(WindowUs))
    val errors    = windows("error", "error_id", "e_start", "e_end")
    val purchases = windows("purchase", "purchase_id", "p_start", "p_end")
    intervalOverlapJoin(errors, purchases, Seq("user_id"),
        "e_start", "e_end", "p_start", "p_end", WindowUs)
      .select($"user_id", $"error_id", $"purchase_id",
        (least($"e_end", $"p_end") - greatest($"e_start", $"p_start"))
          .as("overlap_us"))
      .orderBy($"user_id", $"error_id", $"purchase_id")
  }

  def specs: Seq[QuerySpec] = Seq(
    // DuckDB plans this as its IEJoin — an independent interval-join
    // algorithm deriving the same pairs as the Spark side's binned
    // equi-join decomposition (RangeJoin.pointsInIntervals).
    QuerySpec("q40_range_join", query, Some(
      """SELECT e.user_id, e.event_id AS error_id, c.event_id AS click_id,
           epoch_us(c.ts) - epoch_us(e.ts) AS delta_us
         FROM events e JOIN events c
           ON e.user_id = c.user_id
          AND epoch_us(c.ts) >= epoch_us(e.ts)
          AND epoch_us(c.ts) < epoch_us(e.ts) + 21600000000
         WHERE e.event_type = 'error' AND c.event_type = 'click'
         ORDER BY e.user_id, error_id, click_id""")),
    QuerySpec("q41_overlap_join", overlapQuery, Some(
      """SELECT e.user_id, e.event_id AS error_id, p.event_id AS purchase_id,
           least(epoch_us(e.ts), epoch_us(p.ts)) + 21600000000
             - greatest(epoch_us(e.ts), epoch_us(p.ts)) AS overlap_us
         FROM events e JOIN events p
           ON e.user_id = p.user_id
          AND epoch_us(e.ts) < epoch_us(p.ts) + 21600000000
          AND epoch_us(p.ts) < epoch_us(e.ts) + 21600000000
         WHERE e.event_type = 'error' AND p.event_type = 'purchase'
         ORDER BY e.user_id, error_id, purchase_id""")))
}
