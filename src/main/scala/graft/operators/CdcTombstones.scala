package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** §2.4 U19 (u19): TOMBSTONE-aware CDC compaction — the half of MERGE
  * INTO that u6 (last-writer-wins upsert) and s5 (streaming CDC-apply)
  * leave open: real change feeds carry DELETES, and a compaction that
  * only upserts resurrects every deleted row. Semantics (the Debezium/
  * Delta/Hudi contract): per key, the HIGHEST-version change wins; if
  * that change is a tombstone the key is ABSENT from the final table —
  * and a later re-insert beats an earlier tombstone (delete-then-
  * reinsert is a normal lifecycle, exercised by the fixture).
  *
  * Scale shape: identical to u6 — ONE keyed shuffle (the window's hash
  * exchange on the key), the op filter is row-local after the arg-max;
  * pairs with bucketed layouts so repeated compaction cycles skip the
  * exchange. Tombstones cost nothing extra: they ride the same window
  * and die in the same filter.
  *
  * The change feed is md5-bucket derived from the orders table (the
  * m6/u18 idiom — never raw id modulo): ~20% updated, ~10% deleted,
  * ~10% deleted-then-reinserted, the rest untouched.
  */
object CdcTombstones {

  /** Last-writer-wins merge WITH tombstones: base ∪ changes, keep the
    * highest-`versionCol` row per key, drop keys whose winner is a
    * delete. `opCol` ∈ {'I','U','D'} ('I'/'U' both mean "row present"). */
  def upsertWithTombstones(base: DataFrame, changes: DataFrame,
                           keyCols: Seq[String], versionCol: String,
                           opCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Deterministic tie-break for same-version collisions (a 'D' and a
    // 'U' in one feed batch): op precedence D > U > I — the conservative
    // Debezium/Delta reading (a delete co-versioned with an upsert wins,
    // so a tombstone is never silently resurrected by an arbitrary
    // row_number pick). Feeds carrying a change-sequence id should order
    // by it instead; absent one, precedence is the deterministic floor.
    val opRank = when(col(opCol) === "D", 2)
      .when(col(opCol) === "U", 1).otherwise(0)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, opRank.desc)
    base.unionByName(changes)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= "D")
      .drop("__rn")
  }

  private def bucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long") % 10

  /** The deterministic change feed: buckets 0–1 update (v=1), bucket 2
    * deletes (v=1), bucket 3 deletes (v=1) then re-inserts (v=2). */
  private[operators] def changeFeed(orders: DataFrame): DataFrame = {
    val b = bucket(col("o_orderkey"))
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"))
    val updates = base.filter(b.isin(0, 1))
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + lit(100.0)).as("o_totalprice"),
        lit(1L).as("version"), lit("U").as("op"))
    val deletes = base.filter(b.isin(2, 3))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        lit(1L).as("version"), lit("D").as("op"))
    val reinserts = base.filter(b === 3)
      .select(col("o_orderkey"), lit("R").as("o_orderstatus"),
        (col("o_totalprice") + lit(500.0)).as("o_totalprice"),
        lit(2L).as("version"), lit("I").as("op"))
    updates.unionByName(deletes).unionByName(reinserts)
  }

  /** u19: apply the change feed onto the orders base and summarize the
    * final state per status — bucket-2 keys must be GONE, bucket-3 keys
    * present with the re-inserted values, tombstones never resurrect. */
  def u19CdcTombstonesQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .withColumn("version", lit(0L)).withColumn("op", lit("I"))
    upsertWithTombstones(base, changeFeed(graft.Tables.orders(spark, dir)),
        Seq("o_orderkey"), "version", "op")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** DuckDB replay: same buckets, same feed, arg-max per key via
    * row_number, tombstone filter. */
  val oracleSql: String =
    """WITH b AS (
         SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS bk
         FROM orders),
       allrows AS (
         SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS version, 'I' AS op FROM b
         UNION ALL
         SELECT o_orderkey, 'U', o_totalprice + 100.0, 1, 'U' FROM b WHERE bk IN (0, 1)
         UNION ALL
         SELECT o_orderkey, o_orderstatus, o_totalprice, 1, 'D' FROM b WHERE bk IN (2, 3)
         UNION ALL
         SELECT o_orderkey, 'R', o_totalprice + 500.0, 2, 'I' FROM b WHERE bk = 3),
       win AS (
         SELECT *, row_number() OVER (PARTITION BY o_orderkey
           ORDER BY version DESC,
                    CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END DESC) AS rn
         FROM allrows)
       SELECT o_orderstatus, count(*) AS n_orders,
              round(sum(o_totalprice), 2) AS sum_price
       FROM win WHERE rn = 1 AND op <> 'D'
       GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  def specs: Seq[QuerySpec] =
    Seq(QuerySpec("u19_cdc_tombstones", u19CdcTombstonesQuery, Some(oracleSql)))
}
