package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Materialize, QuerySpec, Tables}

/** §2.2 relational query pack (SURVEY.md R1–R20).
  *
  * Conventions (driver compare is column-name + value-hash based):
  *  - every computed column is aliased identically here and in the oracle;
  *  - double aggregates are rounded (2dp money, 6dp ratios) on BOTH sides
  *    so summation-order ulp drift can't flip the hash;
  *  - top-k queries always break ties on a unique key so the limit is
  *    deterministic before the cut.
  *
  * Scale notes are per-query; the shared rules: filters/projections sit
  * directly on the parquet scan (Catalyst pushes them down), genuinely
  * small dimensions (region/nation/supplier) are broadcast, fact-fact
  * joins shuffle on their join key and rely on AQE for skew/plan fixes.
  */
object Relational {

  /** R2: multi-aggregate hash aggregation (TPC-H Q1 pattern).
    * Scale: map-side partial agg onto 6 groups → tiny shuffle. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc_price"),
        round(avg($"l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** R10: top-k by order value. Scale: TakeOrderedAndProject (per-partition
    * heap + merge of 10 rows), never a full sort. */
  def q2TopkOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(10)
  }

  /** R4: dim⋈fact⋈fact join + agg + top-k (TPC-H Q3 pattern).
    * Scale: customer is filtered 1/5 before the join; orders⋈lineitem
    * shuffles on orderkey; AQE may convert to broadcast when small. */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cutoff = lit("1998-06-01").cast("timestamp")
    val c = Tables.customer(spark, dir).filter($"c_mktsegment" === "BUILDING")
    val o = Tables.orders(spark, dir).filter($"o_orderdate" < cutoff)
    val l = Tables.lineitem(spark, dir).filter($"l_shipdate" > cutoff)
    c.join(o, $"c_custkey" === $"o_custkey")
      .join(l, $"o_orderkey" === $"l_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey".asc)
      .limit(10)
  }

  /** R6 variant: conditional EXISTS semi-join + agg (TPC-H Q4 pattern):
    * orders with at least one line shipped >60 days after order date. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    o.join(l, $"o_orderkey" === $"l_orderkey" &&
              $"l_shipdate" > expr("o_orderdate + INTERVAL 60 DAYS"), "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  /** R5: 6-table join (TPC-H Q5 pattern). Scale: region/nation/supplier
    * are bounded dims → broadcast; the orders⋈lineitem fact join shuffles
    * on orderkey. */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val r = Tables.region(spark, dir).filter($"r_name" === "ASIA")
    val n = Tables.nation(spark, dir)
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
              $"o_orderdate" <  lit("1998-01-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    c.join(broadcast(n.join(broadcast(r), $"n_regionkey" === $"r_regionkey")),
           $"c_nationkey" === $"n_nationkey")
      .join(o, $"c_custkey" === $"o_custkey")
      .join(l, $"o_orderkey" === $"l_orderkey")
      .join(broadcast(s), $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .groupBy($"n_name")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  /** R1: filter+project pushed to the parquet scan, single scalar agg. */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
              $"l_shipdate" <  lit("1997-01-01").cast("timestamp") &&
              $"l_discount".between(0.03, 0.07) && $"l_quantity" < 24)
      .agg(round(sum($"l_extendedprice" * $"l_discount"), 2).as("revenue"))
  }

  /** R11: running (cumulative) sum per customer. Scale: one shuffle on
    * the partition key, sort within partitions, no driver state. */
  def q7RunningSum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .filter($"o_custkey" < 100)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice")
      .withColumn("running_spend", round(sum($"o_totalprice").over(w), 2))
      .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
  }

  /** R12: top-3 per group via row_number. */
  def q8RankParts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"p_brand").orderBy($"p_retailprice".desc, $"p_partkey")
    Tables.part(spark, dir)
      .select($"p_brand", $"p_partkey", $"p_retailprice")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .orderBy($"p_brand", $"rk")
  }

  /** R14: rollup subtotals; grouping nulls projected to 'ALL' so both
    * engines agree on subtotal-row representation. */
  def q9Rollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n_rows"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
              coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
              $"sum_qty", $"n_rows")
      .orderBy($"returnflag", $"linestatus")
  }

  /** R15: exact distinct counts (expand-based multi-distinct). */
  def q10DistinctCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir).agg(
      countDistinct($"l_partkey").as("n_parts"),
      countDistinct($"l_suppkey").as("n_supps"),
      countDistinct($"l_orderkey").as("n_orders"),
      count(lit(1)).as("n_rows"))
  }

  /** R7: anti-join (customers with no 1995 order). */
  def q11AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o95 = Tables.orders(spark, dir)
      .filter($"o_orderdate" < lit("1996-01-01").cast("timestamp"))
    Tables.customer(spark, dir)
      .join(o95, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** R6: semi-join (parts ever shipped in quantity ≥ 48). */
  def q12SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val big = Tables.lineitem(spark, dir).filter($"l_quantity" >= 48)
    Tables.part(spark, dir)
      .join(big, $"p_partkey" === $"l_partkey", "left_semi")
      .select($"p_partkey", $"p_name")
      .orderBy($"p_partkey")
  }

  /** R8: left outer join + two-level aggregation (TPC-H Q13 pattern):
    * distribution of urgent-order counts per customer, zeros included. */
  def q13OrderHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val urgent = Tables.orders(spark, dir).filter($"o_orderpriority" === "1-URGENT")
    Tables.customer(spark, dir)
      .join(urgent, $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("n_custs"))
      .orderBy($"n_custs".desc, $"c_count".desc)
  }

  /** R16: conditional aggregation (promo revenue share, TPC-H Q14). */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1996-04-01").cast("timestamp") &&
              $"l_shipdate" <  lit("1996-07-01").cast("timestamp"))
    val p = Tables.part(spark, dir)
    l.join(broadcast(p), $"l_partkey" === $"p_partkey")
      .agg(round(
        sum(when($"p_type" === "PROMO", $"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .otherwise(lit(0.0))) * 100.0 /
        sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 6).as("promo_share"))
  }

  /** R17: union of heterogeneous sources + aggregation. */
  def q15UnionAccounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
      .select(lit("customer").as("src"), $"c_acctbal".as("bal"))
    val s = Tables.supplier(spark, dir)
      .select(lit("supplier").as("src"), $"s_acctbal".as("bal"))
    c.unionAll(s)
      .groupBy($"src")
      .agg(count(lit(1)).as("n_accounts"), round(sum($"bal"), 2).as("sum_bal"))
      .orderBy($"src")
  }

  /** R3: group-by + having. */
  def q16Having(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"), round(sum($"o_totalprice"), 2).as("total_spend"))
      .filter($"n_orders" >= 15)
      .orderBy($"n_orders".desc, $"o_custkey")
  }

  /** R9: correlated scalar subquery re-expressed as an aggregate join
    * (TPC-H Q17): revenue lost to small-quantity orders. Quantities are
    * integral doubles, so 0.2*avg is bit-identical across engines. */
  def q17SmallQuantity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, dir)
    val avgQ = l.groupBy($"l_partkey".as("ap_partkey"))
      .agg(avg($"l_quantity").as("avg_qty"))
    l.join(avgQ, $"l_partkey" === $"ap_partkey")
      .filter($"l_quantity" < $"avg_qty" * 0.2)
      .agg(round(sum($"l_extendedprice") / 7.0, 2).as("avg_yearly"))
  }

  /** R18: group-having-in (TPC-H Q18): orders whose total quantity
    * exceeds 300, with customer context. */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, dir)
    val bigOrders = l.groupBy($"l_orderkey".as("bo_orderkey"))
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"))
      .filter($"sum_qty" > 300)
    Tables.orders(spark, dir)
      .join(bigOrders, $"o_orderkey" === $"bo_orderkey")
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .select($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate",
              $"o_totalprice", $"sum_qty")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(100)
  }

  /** R19: batch tumbling-window aggregation over the events table. */
  def q19HourlyEvents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
           round(sum($"value"), 2).as("sum_value"))
      .orderBy($"hour", $"event_type")
  }

  /** R13: lag/lead over an event stream, per user. Nulls from the frame
    * edge are coalesced identically on both sides. */
  def q20UserLag(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .filter($"user_id" < 50)
      .select($"user_id", $"event_id", $"ts", $"value")
      .withColumn("prev_value", round(coalesce(lag($"value", 1).over(w), lit(0.0)), 2))
      .withColumn("delta", round($"value" - coalesce(lag($"value", 1).over(w), lit(0.0)), 2))
      .orderBy($"user_id", $"ts", $"event_id")
  }

  /** R22: full cube over two dimensions, subtotals coalesced to 'ALL'. */
  def q23Cube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(round(sum($"l_extendedprice"), 2).as("sum_price"), count(lit(1)).as("n_rows"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
              coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
              $"sum_price", $"n_rows")
      .orderBy($"returnflag", $"linestatus")
  }

  /** R23: pivot (wide conditional aggregation) — per-user event value
    * sums spread across event types. */
  def q24Pivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .filter($"user_id" < 30)
      .groupBy($"user_id")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(round(sum($"value"), 2))
      .orderBy($"user_id")
  }

  /** R24: INTERSECT/EXCEPT set operators — customers ordering in both /
    * only the first of two years. */
  def q25SetOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def custsIn(year: Int) = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit(s"$year-01-01").cast("timestamp") &&
              $"o_orderdate" < lit(s"${year + 1}-01-01").cast("timestamp"))
      .select($"o_custkey")
    val both = custsIn(1995).intersect(custsIn(2000))
      .select(lit("both").as("bucket"), $"o_custkey")
    val only95 = custsIn(1995).except(custsIn(2000))
      .select(lit("only_1995").as("bucket"), $"o_custkey")
    both.unionAll(only95).orderBy($"bucket", $"o_custkey")
  }

  /** R25: as-of join — each purchase matched to the user's most recent
    * click at-or-before it. Spark has no native ASOF; the scalable
    * composition is ONE window pass over the interleaved event stream
    * (single shuffle on user_id), not a range join: tag rows so clicks
    * sort before purchases at equal timestamps, then carry the last
    * click ts forward with last(..., ignoreNulls). */
  def q26AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // routed through the GENERIC operator (operators.AsOfJoin.asOf, the
    // union-tag + running-last shape this query originally inlined) so
    // the reusable library path is what the oracle gates
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("last_click_ts"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("purchase_ts"))
    graft.operators.AsOfJoin.asOf(purchases, clicks, Seq("user_id"),
        "purchase_ts", "last_click_ts")
      .filter($"last_click_ts".isNotNull)
      .select($"user_id", $"purchase_id", $"purchase_ts", $"last_click_ts")
      .orderBy($"user_id", $"purchase_id")
  }

  /** R20: approximate distinct (HLL++) next to the exact count. No SQL
    * oracle — DuckDB's approx sketch differs; driver does rows-only. */
  def q21ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // rows-only by nature (HLL sketches are engine-specific), so the
    // query SELF-validates: it emits the relative error vs the exact
    // count and fails fast when the sketch drifts past its rsd budget —
    // the same driver-visible-quality pattern as the ANN recall gates
    val row = Tables.lineitem(spark, dir).agg(
        approx_count_distinct($"l_partkey", 0.02).as("approx_parts"),
        countDistinct($"l_partkey").as("exact_parts"))
      .withColumn("rel_error",
        round(abs($"approx_parts" - $"exact_parts") / $"exact_parts", 6))
      .head()
    val err = row.getAs[Double]("rel_error")
    require(err <= 0.05,
      s"approx_count_distinct rel_error $err exceeds 5% (rsd was 0.02)")
    // return the already-computed row as a literal so the driver's
    // materialization doesn't re-scan lineitem for a second pass
    Seq((row.getLong(0), row.getLong(1), err))
      .toDF("approx_parts", "exact_parts", "rel_error")
  }

  /** R20b: the exact-count twin of q21, split out so the deterministic
    * half is oracle-checked (the HLL++ sketch itself stays rows-only). */
  def q21bExactDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir).agg(
      countDistinct($"l_partkey").as("exact_parts"),
      countDistinct($"l_suppkey").as("exact_supps"))
  }

  /** Exact interpolated percentiles (percentile_cont semantics) via
    * VALUE COMPRESSION + distributed per-group sort: rows first collapse
    * to (group, value, cnt) with a parallel hash aggregate, only the
    * DISTINCT values go through the per-group window sort, and the
    * cumulative counts recover the global 0-based rank range
    * [cumb, cumb+cnt) each value occupies — the interpolation at
    * (n−1)·p then reads at most two covering values. This is the
    * 100 TB-safe exact formulation: Spark's `percentile()` aggregate
    * accumulates a value→count map PER AGGREGATION BUFFER, measured
    * 35× super-linear at 10× rows (see q29's note); here the state per
    * buffer is one row per distinct (group, value). */
  /** Public handle for other operators (q29c's rank-band gate). */
  def exactPercentilesOf(df: DataFrame, groupCol: String, valCol: String,
                         ps: Seq[(Double, String)]): DataFrame =
    exactPercentiles(df, groupCol, valCol, ps)

  private def exactPercentiles(df: DataFrame, groupCol: String, valCol: String,
                               ps: Seq[(Double, String)]): DataFrame = {
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col(valCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wN = Window.partitionBy(col(groupCol))
    def interp(p: Double, alias: String): Column = {
      val pos = (col("n") - 1) * p
      val lo = floor(pos)
      val f = pos - lo
      val covers: Column => Column = i =>
        col("cumb") <= i && i < col("cumb") + col("cnt")
      round(sum(
        when(covers(lo), col(valCol) * (lit(1.0) - f)).otherwise(0.0) +
        when(covers(lo + 1), col(valCol) * f).otherwise(0.0)), 2).as(alias)
    }
    val aggs = ps.map { case (p, alias) => interp(p, alias) }
    df.groupBy(col(groupCol), col(valCol))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cumb", coalesce(sum(col("cnt")).over(wCum), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(wN))
      .groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** R27: exact interpolated percentiles (percentile_cont semantics) per
    * group — median + p95 of extended price and median quantity by
    * return flag, via [[exactPercentiles]] (the scalable compressed-sort
    * exact form, NOT the map-per-buffer `percentile()` aggregate).
    * DuckDB's `quantile_cont` mirrors the interpolation after
    * rounding. */
  def q28Percentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val price = exactPercentiles(li, "l_returnflag", "l_extendedprice",
      Seq(0.5 -> "p50_price", 0.95 -> "p95_price"))
    val qty = exactPercentiles(li, "l_returnflag", "l_quantity",
      Seq(0.5 -> "p50_qty"))
    price.join(qty, Seq("l_returnflag"))
      .select($"l_returnflag", $"p50_price", $"p95_price", $"p50_qty")
      .orderBy($"l_returnflag")
  }

  /** R28: approximate percentiles (the t-digest/GK-sketch class — what
    * replaces q28's exact per-group sort at 100 TB). Sketches are
    * engine-specific, so like q21 the query SELF-validates: it emits the
    * approx and exact values side by side with the worst relative error
    * and fails fast past the accuracy budget. */
  def q29ApproxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val approx = li
      .groupBy($"l_returnflag")
      .agg(
        round(expr("approx_percentile(l_extendedprice, 0.5, 1000)"), 2).as("ap50_price"),
        round(expr("approx_percentile(l_extendedprice, 0.95, 1000)"), 2).as("ap95_price"))
    // EXACT side via [[exactPercentiles]] — the value-compressed
    // distributed sort + interpolation at the two closest ranks (same
    // linear-interpolation definition as Spark's `percentile`), NOT the
    // percentile() aggregate: that one accumulates a value→count map per
    // group in a single aggregation buffer — at 10× rows that meant
    // multi-million-entry maps per buffer and a 35× super-linear
    // blow-up. q28 now runs on the same helper.
    val exact = exactPercentiles(li, "l_returnflag", "l_extendedprice",
      Seq(0.5 -> "p50_price", 0.95 -> "p95_price"))
    val out = approx.join(exact, Seq("l_returnflag"))
      .select($"l_returnflag", $"ap50_price", $"p50_price",
              $"ap95_price", $"p95_price")
      .withColumn("max_rel_error", round(greatest(
        abs($"ap50_price" - $"p50_price") / $"p50_price",
        abs($"ap95_price" - $"p95_price") / $"p95_price"), 6))
      .orderBy($"l_returnflag")
    // materialize ONCE: the gate below and the caller's action would
    // otherwise each rerun the exact-percentile sorts (q21 pattern)
    val res = graft.Scratch.local(out)
    val worst = res.collect().map(_.getAs[Double]("max_rel_error")).max
    require(worst <= 0.05,
      s"approx_percentile worst rel_error $worst exceeds 5% at accuracy 1000")
    res
  }

  /** R29: semi-structured extraction — parse the JSON `props` column and
    * aggregate an extracted field. Scale: get_json_object is a per-row
    * codegen'd projection over the scan; no shuffle beyond the 5-group
    * aggregate. */
  def q30JsonProps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
           sum($"k").as("sum_k"),
           round(avg($"k"), 6).as("avg_k"),
           min($"k").as("min_k"),
           max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  /** R30: FULL OUTER join — per-nation customer and supplier presence
    * with both-side nulls exercised (each side is sliced so some nations
    * appear on only one side). */
  def q31FullOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir).filter($"c_custkey" < 200)
      .groupBy($"c_nationkey").agg(count(lit(1)).as("n_cust"))
    val s = Tables.supplier(spark, dir).filter($"s_suppkey" < 50)
      .groupBy($"s_nationkey").agg(count(lit(1)).as("n_supp"))
    c.join(s, $"c_nationkey" === $"s_nationkey", "full_outer")
      .select(coalesce($"c_nationkey", $"s_nationkey").as("nationkey"),
              coalesce($"n_cust", lit(0L)).as("n_cust"),
              coalesce($"n_supp", lit(0L)).as("n_supp"))
      .orderBy($"nationkey")
  }

  /** R26: DECIMAL money arithmetic — what a production engine ships for
    * currency instead of double+round. Inputs are 2-dp prices/discounts,
    * so the casts are exact; products carry scale 4 end-to-end (no
    * rounding anywhere), and decimal sums are order-independent — unlike
    * the double queries, this aggregation is bit-stable under any
    * partitioning at any scale factor. (Only the final projection casts
    * to double, because the comparison harness reads DECIMAL through
    * pandas as float; the exact decimal total converts to one canonical
    * double in both engines.) */
  def q27DecimalMoney(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select($"l_returnflag",
        $"l_extendedprice".cast("decimal(15,2)").as("price"),
        $"l_discount".cast("decimal(15,2)").as("disc"))
      .groupBy($"l_returnflag")
      .agg(
        sum($"price").cast("double").as("sum_price"),
        sum(($"price" * (lit(BigDecimal("1.00")).cast("decimal(15,2)") - $"disc"))
          .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  /** R44 (q47): explicit GROUPING SETS — the general form rollup/cube
    * specialize; a reporting workload usually wants a hand-picked set
    * of aggregation levels, not the full lattice (cube over k dims is
    * 2^k groupings; the chosen 3 here cost one Expand×3 pass). The
    * grouping_id bitmask disambiguates "NULL because subtotal" from a
    * genuinely null dimension — the production-correct way, rather than
    * the coalesce-to-'ALL' presentation trick (also emitted, for the
    * report surface). */
  def q47GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"), Seq()),
        $"l_returnflag", $"l_linestatus")
      .agg(round(sum($"l_extendedprice"), 2).as("sum_price"),
           count(lit(1)).as("n_rows"),
           grouping_id().as("gid"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
              coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
              $"gid", $"sum_price", $"n_rows")
      .orderBy($"gid", $"returnflag", $"linestatus")
  }

  /** R45 (q48): time-RANGE window frames — each order aggregated with
    * the same customer's orders in the trailing 90 days (RANGE frames
    * bound by VALUE distance, not row count — the rolling-metrics
    * shape: trailing-spend features, rate limits, recency scores).
    * One shuffle on the partition key; frame evaluation is a sliding
    * accumulator within each sorted partition, never a self-join (the
    * naive range-join formulation of the same query is O(n·frame)).
    * Money is summed in integer CENTS inside the frame so the rolling
    * sum is order-independent — two orders at the same timestamp sum
    * identically however the engines break the tie. */
  def q48RangeWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy(unix_timestamp($"o_orderdate"))
      .rangeBetween(-90L * 86400, 0)
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .withColumn("n_orders_90d", count(lit(1)).over(w))
      .withColumn("spend_90d_cents", sum($"cents").over(w))
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        $"n_orders_90d", $"spend_90d_cents")
      .orderBy($"o_orderkey")
  }

  /** R47 (q50): rolling DISTINCT users (DAU / trailing-7-day WAU per
    * active day) — the classic hard rolling metric: COUNT(DISTINCT)
    * does not decompose over sliding windows, so the naive plan is a
    * per-day self-join over the whole activity table. The scalable
    * shape: collapse to distinct (user, day) once, then EXPLODE each
    * activity day into the ≤7 window-ending days it contributes to —
    * linear in activity, one count-distinct aggregation keyed on the
    * window day (Spark plans exact distinct as a two-level partial
    * aggregate). Window days are restricted to days that actually have
    * events (leading partial windows are reported as-is — the standard
    * dashboard convention). */
  def q50RollingActive(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ud = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("d"))
      .distinct()
    Materialize.scoped(ud) {
      val dau = ud.groupBy($"d".as("day"))
        .agg(count_distinct($"user_id").as("dau"))
      val wau = ud
        .select($"user_id", explode(sequence($"d", date_add($"d", 6))).as("day"))
        .join(ud.select($"d".as("day")).distinct(), Seq("day"), "left_semi")
        .groupBy($"day")
        .agg(count_distinct($"user_id").as("wau7"))
      Materialize(dau.join(wau, Seq("day"))
        .select($"day".cast("string").as("day"), $"dau", $"wau7")
        .orderBy($"day"))
    }
  }

  /** R46 (q49): VARIANT semi-structured values — Spark 4's binary
    * semi-structured type (the Snowflake/Iceberg VARIANT shape): JSON
    * is parsed ONCE into the compact binary encoding, then typed paths
    * are extracted directly from it — repeated accesses don't re-parse
    * strings, and the binary form is what a lakehouse column would
    * store. Contrast q30, which extracts from the raw JSON string per
    * access. All extracted values aggregate as integers. */
  def q49Variant(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_type", parse_json($"props").as("v"))
      .select($"event_type",
        variant_get($"v", "$.k", "long").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
           sum($"k").as("sum_k"),
           countDistinct($"k").as("n_distinct_k"),
           min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_pricing_summary", q1PricingSummary, Some(
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""")),
    QuerySpec("q2_topk_orders", q2TopkOrders, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
         FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC
         LIMIT 10""")),
    QuerySpec("q3_shipping_priority", q3ShippingPriority, Some(
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING'
           AND c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1998-06-01'
           AND l_shipdate  > TIMESTAMP '1998-06-01'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey ASC
         LIMIT 10""")),
    QuerySpec("q4_order_priority", q4OrderPriority, Some(
      """SELECT o_orderpriority, count(*) AS n_orders
         FROM orders
         WHERE EXISTS (
           SELECT 1 FROM lineitem
           WHERE l_orderkey = o_orderkey
             AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""")),
    QuerySpec("q5_local_supplier", q5LocalSupplier, Some(
      """SELECT n_name,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate <  TIMESTAMP '1998-01-01'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""")),
    QuerySpec("q6_forecast_revenue", q6ForecastRevenue, Some(
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate <  TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.03 AND 0.07
           AND l_quantity < 24""")),
    QuerySpec("q7_running_sum", q7RunningSum, Some(
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
         FROM orders
         WHERE o_custkey < 100
         ORDER BY o_custkey, o_orderdate, o_orderkey""")),
    QuerySpec("q8_rank_parts", q8RankParts, Some(
      """SELECT p_brand, p_partkey, p_retailprice, rk FROM (
           SELECT p_brand, p_partkey, p_retailprice,
           row_number() OVER (PARTITION BY p_brand
             ORDER BY p_retailprice DESC, p_partkey) AS rk
           FROM part) t
         WHERE rk <= 3
         ORDER BY p_brand, rk""")),
    QuerySpec("q9_rollup", q9Rollup, Some(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
         round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
         FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""")),
    QuerySpec("q10_distinct_counts", q10DistinctCounts, Some(
      """SELECT count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps,
                count(DISTINCT l_orderkey) AS n_orders,
                count(*) AS n_rows
         FROM lineitem""")),
    QuerySpec("q11_anti_join", q11AntiJoin, Some(
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (
           SELECT 1 FROM orders
           WHERE o_custkey = c_custkey
             AND o_orderdate < TIMESTAMP '1996-01-01')
         ORDER BY c_custkey""")),
    QuerySpec("q12_semi_join", q12SemiJoin, Some(
      """SELECT p_partkey, p_name FROM part
         WHERE EXISTS (
           SELECT 1 FROM lineitem
           WHERE l_partkey = p_partkey AND l_quantity >= 48)
         ORDER BY p_partkey""")),
    QuerySpec("q13_order_histogram", q13OrderHistogram, Some(
      """SELECT c_count, count(*) AS n_custs FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
           GROUP BY c_custkey) t
         GROUP BY c_count
         ORDER BY n_custs DESC, c_count DESC""")),
    QuerySpec("q14_promo_share", q14PromoShare, Some(
      """SELECT round(
           sum(CASE WHEN p_type = 'PROMO'
               THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) * 100.0
           / sum(l_extendedprice * (1.0 - l_discount)), 6) AS promo_share
         FROM lineitem, part
         WHERE l_partkey = p_partkey
           AND l_shipdate >= TIMESTAMP '1996-04-01'
           AND l_shipdate <  TIMESTAMP '1996-07-01'""")),
    QuerySpec("q15_union_accounts", q15UnionAccounts, Some(
      """SELECT src, count(*) AS n_accounts, round(sum(bal), 2) AS sum_bal
         FROM (SELECT 'customer' AS src, c_acctbal AS bal FROM customer
               UNION ALL
               SELECT 'supplier' AS src, s_acctbal AS bal FROM supplier) t
         GROUP BY src
         ORDER BY src""")),
    QuerySpec("q16_having", q16Having, Some(
      """SELECT o_custkey, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_spend
         FROM orders
         GROUP BY o_custkey
         HAVING count(*) >= 15
         ORDER BY n_orders DESC, o_custkey""")),
    QuerySpec("q17_small_quantity", q17SmallQuantity, Some(
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
         FROM lineitem,
              (SELECT l_partkey AS ap_partkey, avg(l_quantity) AS avg_qty
               FROM lineitem GROUP BY l_partkey) a
         WHERE l_partkey = ap_partkey AND l_quantity < avg_qty * 0.2""")),
    QuerySpec("q18_large_orders", q18LargeOrders, Some(
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
         FROM orders, customer,
              (SELECT l_orderkey AS bo_orderkey, round(sum(l_quantity), 2) AS sum_qty
               FROM lineitem GROUP BY l_orderkey) b
         WHERE o_orderkey = bo_orderkey AND sum_qty > 300 AND o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 100""")),
    QuerySpec("q19_hourly_events", q19HourlyEvents, Some(
      """SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n_events,
         round(sum(value), 2) AS sum_value
         FROM events
         GROUP BY 1, 2
         ORDER BY 1, 2""")),
    QuerySpec("q20_user_lag", q20UserLag, Some(
      """SELECT user_id, event_id, ts, value,
         round(coalesce(lag(value) OVER w, 0.0), 2) AS prev_value,
         round(value - coalesce(lag(value) OVER w, 0.0), 2) AS delta
         FROM events
         WHERE user_id < 50
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, ts, event_id""")),
    // q21: no oracle — DuckDB's HLL differs from Spark's HLL++; the
    // driver records a rows-only check. Its exact twin is q21b.
    QuerySpec("q21_approx_distinct", q21ApproxDistinct, None),
    QuerySpec("q21b_exact_distinct", q21bExactDistinct, Some(
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
                count(DISTINCT l_suppkey) AS exact_supps
         FROM lineitem""")),
    QuerySpec("q29_approx_percentiles", q29ApproxPercentiles, None),
    QuerySpec("q30_json_props", q30JsonProps, Some(
      """SELECT event_type, count(*) AS n_events,
         CAST(sum(k) AS BIGINT) AS sum_k,
         round(avg(k), 6) AS avg_k,
         min(k) AS min_k, max(k) AS max_k
         FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events) t
         GROUP BY event_type
         ORDER BY event_type""")),
    QuerySpec("q31_full_outer", q31FullOuter, Some(
      """SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
         COALESCE(c.n_cust, 0) AS n_cust,
         COALESCE(s.n_supp, 0) AS n_supp
         FROM (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust
               FROM customer WHERE c_custkey < 200 GROUP BY c_nationkey) c
         FULL OUTER JOIN
              (SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_supp
               FROM supplier WHERE s_suppkey < 50 GROUP BY s_nationkey) s
           ON c.c_nationkey = s.s_nationkey
         ORDER BY nationkey""")),
    QuerySpec("q49_variant", q49Variant, Some(
      """SELECT event_type, count(*) AS n_events,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k,
           CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k
         FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events) t
         GROUP BY event_type
         ORDER BY event_type""")),
    QuerySpec("q50_rolling_active", q50RollingActive, Some(
      """WITH ud AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         days AS (SELECT DISTINCT d FROM ud),
         wau AS (
           SELECT days.d, count(DISTINCT ud.user_id) AS wau7
           FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
           GROUP BY days.d),
         dau AS (SELECT d, count(DISTINCT user_id) AS dau FROM ud GROUP BY d)
         SELECT CAST(dau.d AS VARCHAR) AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau7 AS BIGINT) AS wau7
         FROM dau JOIN wau ON dau.d = wau.d
         ORDER BY day""")),
    QuerySpec("q27_decimal_money", q27DecimalMoney, Some(
      """SELECT l_returnflag,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_price,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1.00 AS DECIMAL(15,2)) - CAST(l_discount AS DECIMAL(15,2)))
                AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
         count(*) AS n_rows
         FROM lineitem
         GROUP BY l_returnflag
         ORDER BY l_returnflag""")),
    QuerySpec("q28_percentiles", q28Percentiles, Some(
      """SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.5), 2) AS p50_price,
         round(quantile_cont(l_extendedprice, 0.95), 2) AS p95_price,
         round(quantile_cont(l_quantity, 0.5), 2) AS p50_qty
         FROM lineitem
         GROUP BY l_returnflag
         ORDER BY l_returnflag""")),
    QuerySpec("q23_cube", q23Cube, Some(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
         round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n_rows
         FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""")),
    QuerySpec("q47_grouping_sets", q47GroupingSets, Some(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
         CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n_rows
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
         ORDER BY gid, returnflag, linestatus""")),
    QuerySpec("q48_range_window", q48RangeWindow, Some(
      """SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(count(*) OVER w AS BIGINT) AS n_orders_90d,
           CAST(sum(cents) OVER w AS BIGINT) AS spend_90d_cents
         FROM (SELECT o_orderkey, o_custkey, o_orderdate,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders) t
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                      RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""")),
    QuerySpec("q24_pivot", q24Pivot, Some(
      """SELECT user_id,
         round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
         round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view,
         round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
         round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
         round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error
         FROM events
         WHERE user_id < 30
         GROUP BY user_id
         ORDER BY user_id""")),
    QuerySpec("q25_setops", q25SetOps, Some(
      """SELECT 'both' AS bucket, o_custkey FROM (
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
           INTERSECT
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '2000-01-01' AND o_orderdate < TIMESTAMP '2001-01-01') a
         UNION ALL
         SELECT 'only_1995' AS bucket, o_custkey FROM (
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
           EXCEPT
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '2000-01-01' AND o_orderdate < TIMESTAMP '2001-01-01') b
         ORDER BY bucket, o_custkey""")),
    QuerySpec("q26_asof_join", q26AsofJoin, Some(
      """SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
           (SELECT max(c.ts) FROM events c
            WHERE c.event_type = 'click' AND c.user_id = p.user_id
              AND c.ts <= p.ts) AS last_click_ts
         FROM events p
         WHERE p.event_type = 'purchase'
           AND EXISTS (SELECT 1 FROM events c
                       WHERE c.event_type = 'click' AND c.user_id = p.user_id
                         AND c.ts <= p.ts)
         ORDER BY user_id, purchase_id""")))
}
