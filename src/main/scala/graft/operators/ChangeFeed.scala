package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** §2.4 U20 (u20): CHANGE-DATA-FEED reads over the U11 versioned
  * layout — the `table_changes(v1, v2)` / readChangeFeed contract
  * (Delta CDF; Iceberg's changelog scan): for every commit version in
  * (v1, v2], emit the row-level changes that commit applied, each
  * tagged with `_change_type` ∈ {insert, update_preimage,
  * update_postimage, delete} and `_commit_version`. U11 gives
  * point-in-time reads and U19 compacts tombstoned feeds; this is the
  * third primitive — the one INCREMENTAL consumers poll (downstream
  * materialized views, sync jobs) instead of diffing two full
  * snapshots.
  *
  * Classification is merge-on-read: a commit row for key k at version
  * v classifies against the key's LATEST row strictly below v —
  * exactly one `lag()` over the key window, so the whole feed costs
  * ONE keyed shuffle regardless of how many versions the range spans
  * (versions stay hive-pruned to `<= v2` at file-listing time, the u8
  * machinery; the four change images then explode row-locally).
  * Delete-then-reinsert windows classify correctly: the reinsert sees
  * prev.deleted = true and emits `insert`, not an update pair — the
  * same lifecycle the U11 fixture commits at v2→v3. A tombstone for a
  * key that never existed (or was already deleted) emits nothing.
  *
  * Scale note: deriving pre-images on read requires the key's history
  * below the range — the price of CDF-without-stored-change-files.
  * Production Delta persists change files AT WRITE TIME to skip this;
  * the read-side contract (what this implements) is identical, and
  * the one-window shape is the cheapest merge-on-read derivation.
  */
object ChangeFeed {

  /** Change rows for commits in (v1, v2]: (k, price, status,
    * _change_type, _commit_version). One key-window pass.
    *
    * Interacts with U22 expiry in two ways, both handled here: (a) a
    * range reaching below the expiry floor would classify against
    * GC'd history (a pre-floor update would emit `insert`) — so it
    * fails loudly, the same contract as readAsOf; (b) expiry APPENDS
    * content-identical LWW squash rows into the `version=keep`
    * partition (crash-idempotent by design), so a key may carry
    * duplicate rows at (k, keep) — the feed LWW-dedupes to one row per
    * (k, version) before the lag window, otherwise prev_* would be
    * nondeterministic across the duplicates and one commit would emit
    * spurious insert + update pairs. */
  def changesBetween(spark: SparkSession, root: String, v1: Int, v2: Int): DataFrame = {
    val floor = VersionedTable.expiryFloor(root)
    require(v1 >= floor,
      s"change feed from v$v1: versions below v$floor were expired (u22 retention) — " +
      "pre-images below the floor are gone, refusing to classify against missing history")
    val w = Window.partitionBy(col("k")).orderBy(col("version"))
    // u22 squash duplicates are content-identical: keep the first row
    // of each (k, version) run via a lag over the SAME key window the
    // classification uses — the dedupe and the image derivation share
    // one exchange (dropDuplicates would add a (k, version) shuffle,
    // breaking the one-keyed-shuffle plan gate)
    val hist = spark.read.parquet(root).filter(col("version") <= v2)
      .withColumn("__prev_v", lag(col("version"), 1).over(w))
      .filter(col("__prev_v").isNull || col("__prev_v") =!= col("version"))
      .drop("__prev_v")
    val withPrev = hist.select(col("k"), col("price"), col("status"),
        col("deleted"), col("version"),
        lag(col("price"), 1).over(w).as("prev_price"),
        lag(col("status"), 1).over(w).as("prev_status"),
        lag(col("deleted"), 1).over(w).as("prev_deleted"))
      .filter(col("version") > v1)
    val prevLive = col("prev_deleted").isNotNull && !col("prev_deleted")
    val images = array(
      when(!col("deleted") && !prevLive,
        struct(lit("insert").as("ct"), col("price").as("price"),
               col("status").as("status"))),
      when(col("deleted") && prevLive,
        struct(lit("delete").as("ct"), col("prev_price").as("price"),
               col("prev_status").as("status"))),
      when(!col("deleted") && prevLive,
        struct(lit("update_preimage").as("ct"), col("prev_price").as("price"),
               col("prev_status").as("status"))),
      when(!col("deleted") && prevLive,
        struct(lit("update_postimage").as("ct"), col("price").as("price"),
               col("status").as("status"))))
    withPrev
      .select(col("k"), col("version").as("_commit_version"),
        explode(filter(images, x => x.isNotNull)).as("chg"))
      .select(col("k"), col("chg.price").as("price"), col("chg.status").as("status"),
        col("chg.ct").as("_change_type"), col("_commit_version"))
  }

  /** u20: write U11's three commits, read the feed over (0,3] and the
    * sub-range (1,3], summarize per (range, version, change type) —
    * the boundary filter, the delete→reinsert lifecycle, and both
    * update images are all hash-pinned. */
  def u20ChangeFeedQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.Scratch.collected("cdf") { root =>
      VersionedTable.commits(spark, dir).zipWithIndex.foreach {
        case (c, i) => VersionedTable.commit(c, root, i + 1)
      }
      Seq(0, 1).map { lo =>
        changesBetween(spark, root, lo, 3)
          .groupBy(col("_commit_version"), col("_change_type"))
          .agg(count(lit(1)).as("n_rows"),
               // integer-cents sum: association-free at any scale (s13)
               round(sum(round(col("price") * 100).cast("long")) / 100.0, 2)
                 .as("sum_price"))
          .select(lit(lo).as("range_lo"), col("_commit_version").cast("long"),
                  col("_change_type"), col("n_rows"), col("sum_price"))
      }.reduce(_ unionByName _)
        .orderBy(col("range_lo"), col("_commit_version"), col("_change_type"))
    }
  }

  /** DuckDB replay: same commit construction as u11, lag over the key
    * window, four-way classification, both ranges. */
  val oracleSql: String =
    """WITH base AS (
         SELECT o_orderkey AS k, o_totalprice AS price FROM orders),
       hist AS (
         SELECT k, price, 'BASE' AS status, false AS deleted, 1 AS version
           FROM base WHERE k % 3 != 2
         UNION ALL
         SELECT k, price, 'U2', false, 2 FROM base WHERE k % 5 = 0
         UNION ALL
         SELECT k, NULL, NULL, true, 2 FROM base WHERE k % 7 = 0 AND k % 5 != 0
         UNION ALL
         SELECT k, price, 'U3', false, 3 FROM base WHERE k % 7 = 0 AND k % 2 = 0
         UNION ALL
         SELECT k, price, 'U3', false, 3 FROM base WHERE k % 11 = 0 AND k % 7 != 0),
       wp AS (
         SELECT k, price, status, deleted, version,
           lag(price) OVER w AS prev_price,
           lag(status) OVER w AS prev_status,
           lag(deleted) OVER w AS prev_deleted
         FROM hist WINDOW w AS (PARTITION BY k ORDER BY version)),
       chg AS (
         SELECT k, price, status, 'insert' AS ct, version FROM wp
           WHERE NOT deleted AND NOT coalesce(NOT prev_deleted, false)
         UNION ALL
         SELECT k, prev_price, prev_status, 'delete', version FROM wp
           WHERE deleted AND coalesce(NOT prev_deleted, false)
         UNION ALL
         SELECT k, prev_price, prev_status, 'update_preimage', version FROM wp
           WHERE NOT deleted AND coalesce(NOT prev_deleted, false)
         UNION ALL
         SELECT k, price, status, 'update_postimage', version FROM wp
           WHERE NOT deleted AND coalesce(NOT prev_deleted, false)),
       ranges AS (SELECT unnest([0, 1]) AS range_lo)
       SELECT r.range_lo, CAST(c.version AS BIGINT) AS _commit_version,
              c.ct AS _change_type, count(*) AS n_rows,
              round(sum(CAST(round(c.price * 100) AS BIGINT)) / 100.0, 2) AS sum_price
       FROM chg c JOIN ranges r ON c.version > r.range_lo
       GROUP BY 1, 2, 3
       ORDER BY range_lo, _commit_version, _change_type"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("u20_change_feed", u20ChangeFeedQuery, Some(oracleSql)))
}
