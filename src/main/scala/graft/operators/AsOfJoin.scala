package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** R26 generalized: backward as-of join — for each left row, the single
  * most recent right row with `right.ts <= left.ts` (or `<` when
  * `strict`) on equal keys, optionally within a lookback `tolerance`.
  *
  * The scale shape contains NO join operator at all: both sides are
  * union-tagged into one stream, shuffled ONCE on the keys, and a
  * running `last(ignoreNulls)` window carries the latest right payload
  * forward into each left row — O(n) per key after one partitioned
  * sort, no per-row probing, nothing broadcast, and skew is bounded by
  * the per-key event density (the same property the sessionization and
  * q26 plans rely on). This is the standard point-in-time-correct join
  * used for feature lookup ("the dimension value as of the event"),
  * where a plain equi-join would leak future values.
  *
  * Semantics notes:
  *  - left rows with no qualifying right row are KEPT with null right
  *    columns (left-outer); filter on a right column for inner.
  *  - at equal (key, ts, side), ties among right rows resolve to the
  *    LARGEST right payload struct (deterministic lexicographic
  *    tie-break across its columns in their select order).
  *  - `tolerance` (same unit as the ts columns, which must then be
  *    numeric) bounds the lookback: matches older than
  *    `left.ts - tolerance` are nulled out — pandas merge_asof's
  *    tolerance, decided row-locally after the window.
  *  - non-key column names of the two sides must be disjoint.
  */
object AsOfJoin {

  def asOf(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      strict: Boolean = false,
      tolerance: Option[Long] = None): DataFrame = {
    val leftCols = left.columns.filterNot(keys.contains).toSeq
    val rightCols = right.columns.filterNot(keys.contains).toSeq
    require(leftCols.intersect(rightCols).isEmpty,
      s"non-key columns must be disjoint, both sides have: " +
        leftCols.intersect(rightCols).mkString(", "))
    val lStruct = struct(leftCols.map(left(_)): _*)
    val rStruct = struct(rightCols.map(right(_)): _*)
    val lType = left.select(lStruct).schema.head.dataType
    val rType = right.select(rStruct).schema.head.dataType

    val tagged = right.select(
        keys.map(col) ++ Seq(
          col(rightTs).as("__t"), lit(0).as("__side"),
          rStruct.as("__r"), lit(null).cast(lType).as("__l")): _*)
      .unionByName(left.select(
        keys.map(col) ++ Seq(
          col(leftTs).as("__t"), lit(1).as("__side"),
          lit(null).cast(rType).as("__r"), lStruct.as("__l")): _*))

    // inclusive: right (side 0) sorts before left at equal ts, so the
    // running last() sees it; strict: left first, so it doesn't. The
    // trailing __r key is the deterministic tie-break among right rows
    // sharing (key, ts) — __r is null on left rows, which never share a
    // (__t, __side) slot with right rows, so the mixed-null ordering is
    // never consulted across sides.
    val sideOrder = if (strict) col("__side").desc else col("__side").asc
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").asc, sideOrder, col("__r").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matchedRaw = last(col("__r"), ignoreNulls = true).over(w)
    val matched = tolerance match {
      case None => matchedRaw
      case Some(tol) =>
        when(matchedRaw.isNotNull &&
             col("__t") - matchedRaw.getField(rightTs) <= lit(tol), matchedRaw)
    }

    tagged.withColumn("__match", matched)
      .filter(col("__side") === 1)
      .select(keys.map(col) ++
        leftCols.map(c => col("__l").getField(c).as(c)) ++
        rightCols.map(c => col("__match").getField(c).as(c)): _*)
  }

  /** q42: each purchase joined to the user's latest click within the
    * preceding 6h (tolerance as-of) — purchases outside any click's 6h
    * shadow come back with null and are kept, making the tolerance
    * null-out path itself oracle-visible. DuckDB replays with a
    * correlated bounded max() subquery.
    */
  def toleranceQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
      .withColumn("ts_us", unix_micros($"ts"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), $"ts_us".as("click_us"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"),
              $"ts_us".as("purchase_us"))
    asOf(purchases, clicks, Seq("user_id"), "purchase_us", "click_us",
        tolerance = Some(RangeJoin.WindowUs))
      .select($"user_id", $"purchase_id", $"purchase_us", $"click_us")
      .orderBy($"user_id", $"purchase_id")
  }

  def specs: Seq[QuerySpec] = Seq(
    // tolerance as-of: latest click in the 6h before each purchase,
    // NULL (row kept) when none — replayed as a bounded correlated max
    QuerySpec("q42_asof_tolerance", toleranceQuery, Some(
      """SELECT p.user_id, p.event_id AS purchase_id,
           epoch_us(p.ts) AS purchase_us,
           (SELECT max(epoch_us(c.ts)) FROM events c
            WHERE c.event_type = 'click' AND c.user_id = p.user_id
              AND epoch_us(c.ts) <= epoch_us(p.ts)
              AND epoch_us(c.ts) >= epoch_us(p.ts) - 21600000000) AS click_us
         FROM events p
         WHERE p.event_type = 'purchase'
         ORDER BY p.user_id, purchase_id""")))
}
