package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.4 U11: versioned table layout with TIME TRAVEL — the lakehouse
  * MVCC shape (Delta/Iceberg-style) on plain parquet: every commit is an
  * immutable hive partition `version=k/` of upserts + tombstones, and a
  * read-as-of resolves merge-on-read.
  *
  * Scale shape (100 TB): commits are APPEND-ONLY (no rewrite of history —
  * commit cost ∝ changed rows, never table size); a read-as-of prunes to
  * `version <= v` at FILE-LISTING time (partitionFilters, the u8
  * machinery), then resolves last-writer-wins per key with ONE shuffle
  * keyed on the primary key (the u6 window). History compaction
  * (squashing old versions into a new base) is u5's size-aware rewrite
  * applied to resolved output — same building blocks, so it is not
  * duplicated here.
  *
  * Correctness: the commit contents derive deterministically from the
  * orders table, so the DuckDB oracle replays commit construction AND
  * merge-on-read resolution for every as-of version from the raw table
  * alone — the whole write→prune→resolve cycle is hash-gated.
  */
object VersionedTable {

  /** Append one commit (upserts + tombstones) as an immutable
    * `version=k` partition. */
  def commit(rows: DataFrame, root: String, version: Int): Unit =
    rows.withColumn("version", lit(version))
      .write.partitionBy("version").mode("append").parquet(root)

  /** Retention floor written by U22's expiry (0 = nothing expired). */
  def expiryFloor(root: String): Int = {
    val p = java.nio.file.Paths.get(root, "_expiry")
    if (!java.nio.file.Files.exists(p)) 0
    else new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toInt
  }

  /** Merge-on-read as-of `v`: partition-pruned scan + last-writer-wins
    * per key, tombstones drop the key. Versions below U22's expiry
    * floor are GONE — asking for one fails loudly, never silently
    * returns a partial state. */
  def readAsOf(spark: SparkSession, root: String, v: Int): DataFrame = {
    val floor = expiryFloor(root)
    require(v >= floor,
      s"time travel to v$v: versions below v$floor were expired (u22 retention)")
    val w = Window.partitionBy(col("k")).orderBy(col("version").desc)
    spark.read.parquet(root)
      .filter(col("version") <= v && col("version") >= floor)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && !col("deleted"))
      .drop("rn")
  }

  /** The three deterministic commits, derived from orders:
    * v1 = base load (keys k%3≠2); v2 = price-bump updates (k%5=0,
    * upsert semantics — may insert) + tombstones (k%7=0 ∧ k%5≠0);
    * v3 = re-inserts of half the deleted keys (k%7=0 ∧ k%2=0) +
    * updates (k%11=0 ∧ k%7≠0). Sets within a version are disjoint so
    * last-writer-wins needs no intra-version tie-break. */
  private[graft] def commits(spark: SparkSession, dir: String): Seq[DataFrame] = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
    Seq(
      base.filter(col("k") % 3 =!= 2)
        .select(col("k"), col("price"), lit("BASE").as("status"),
                lit(false).as("deleted")),
      base.filter(col("k") % 5 === 0)
        .select(col("k"), col("price"), lit("U2").as("status"),
                lit(false).as("deleted"))
        .union(base.filter(col("k") % 7 === 0 && col("k") % 5 =!= 0)
          .select(col("k"), lit(null).cast("double").as("price"),
                  lit(null).cast("string").as("status"), lit(true).as("deleted"))),
      base.filter(col("k") % 7 === 0 && col("k") % 2 === 0)
        .select(col("k"), col("price"), lit("U3").as("status"),
                lit(false).as("deleted"))
        .union(base.filter(col("k") % 11 === 0 && col("k") % 7 =!= 0)
          .select(col("k"), col("price"), lit("U3").as("status"),
                  lit(false).as("deleted"))))
  }

  /** u11: write 3 commits, then summarize read-as-of for v = 1, 2, 3 —
    * per (as_of_version, status) key count and price sum. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    graft.Scratch.collected("versioned") { root =>
      commits(spark, dir).zipWithIndex.foreach { case (c, i) => commit(c, root, i + 1) }
      (1 to 3).map { v =>
        readAsOf(spark, root, v)
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n_keys"), round(sum(col("price")), 2).as("sum_price"))
          .select(lit(v).as("as_of_version"), col("status"), col("n_keys"), col("sum_price"))
      }.reduce(_ union _).orderBy(col("as_of_version"), col("status"))
    }
  }

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
       resolved AS (
         SELECT as_of_version, k, price, status FROM (
           SELECT v.v AS as_of_version, h.k, h.price, h.status, h.deleted,
             row_number() OVER (
               PARTITION BY v.v, h.k ORDER BY h.version DESC) AS rn
           FROM hist h CROSS JOIN (VALUES (1), (2), (3)) v(v)
           WHERE h.version <= v.v) t
         WHERE rn = 1 AND NOT deleted)
       SELECT as_of_version, status, count(*) AS n_keys,
              round(sum(price), 2) AS sum_price
       FROM resolved GROUP BY 1, 2 ORDER BY as_of_version, status"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("u11_time_travel", query, Some(oracleSql)))
}
