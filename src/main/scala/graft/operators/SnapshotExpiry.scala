package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec}

/** §2.4 U22 (u22): SNAPSHOT EXPIRY / VACUUM — the retention half of the
  * lakehouse lifecycle (Delta VACUUM + history squash; Iceberg
  * expire_snapshots): U11 commits forever, so without expiry a 100 TB
  * table's history grows without bound and every merge-on-read carries
  * it. `expire(root, keep)`:
  *
  *   1. SQUASH: the LWW winner of every key across versions ≤ keep is
  *      rewritten into the `version=keep` partition — INCLUDING
  *      tombstone winners. Keeping tombstones is the correctness crux:
  *      a key deleted at or before `keep` must stay dead while older
  *      base rows still exist on disk (crash mid-expiry, or lazy GC) —
  *      a live-rows-only squash would resurrect it the moment the
  *      version holding its tombstone was deleted.
  *   2. FLOOR: the retention floor is written marker-LAST (`_expiry`),
  *      so a crash before it leaves a layout whose resolution is
  *      IDENTICAL for every v ≥ keep (the squash dominates everything
  *      it summarized) and the expiry can simply re-run.
  *   3. GC: version directories below the floor are deleted — pure
  *      garbage collection, since floor-aware reads (readAsOf) never
  *      look below the floor and requests below it fail loudly.
  *
  * Scale shape: the squash is ONE keyed window over versions ≤ keep
  * (partition-pruned listing); GC is metadata-only; retained reads are
  * untouched byte-for-byte above the floor. Time travel to expired
  * versions throws — never a silent partial state.
  */
object SnapshotExpiry {

  /** LWW winner per key over versions ≤ keep, tombstone winners KEPT,
    * re-versioned to `keep`. */
  private def squash(spark: SparkSession, root: String, keep: Int): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("version").desc)
    spark.read.parquet(root)
      .filter(col("version") <= keep && col("version") >= VersionedTable.expiryFloor(root))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("k"), col("price"), col("status"), col("deleted"))
  }

  /** Expire all history below `keep`: squash → floor marker → GC.
    * `keep` below the CURRENT floor is rejected: those versions were
    * already GC'd, and rewriting `_expiry` downward would re-admit
    * them to readAsOf's floor check, which would then silently return
    * partial state — the exact contract violation this module forbids. */
  def expire(spark: SparkSession, root: String, keep: Int): Unit = {
    val floor = VersionedTable.expiryFloor(root)
    require(keep >= floor,
      s"expire(keep=$keep): the floor is already v$floor — versions below it are " +
      "GC'd and the retention floor never moves backward")
    val squashed = Materialize(squash(spark, root, keep))
    // APPEND the squash into the keep partition (never overwrite): every
    // appended row is content-identical to the ≤keep state it
    // summarizes, so ANY prefix of the append — a crash mid-write —
    // resolves identically through the LWW window, and re-running the
    // expiry is idempotent (more duplicates, same rn=1 content). The
    // floor marker lands after the append, GC after the marker.
    VersionedTable.commit(squashed, root, keep)
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "_expiry"),
      keep.toString.getBytes("UTF-8"))
    val dir = java.nio.file.Paths.get(root)
    val listing = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala
        .map(_.getFileName.toString)
        .filter(s => s.startsWith("version=") &&
          s.stripPrefix("version=").toInt < keep)
        .toList
        .foreach(s => graft.Scratch.delete(s"$root/$s"))
    } finally listing.close()
  }

  /** u22: u11's three commits; snapshot the v2/v3 aggregates, expire
    * below v2, re-read v2/v3 — the aggregates must be IDENTICAL (gated
    * in-query), v1 must throw, and only version dirs ≥ 2 may remain.
    * Output: the post-expiry v2/v3 aggregates, hash-gated. */
  def u22ExpiryQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.Scratch.collected("expiry") { root =>
      VersionedTable.commits(spark, dir).zipWithIndex.foreach {
        case (c, i) => VersionedTable.commit(c, root, i + 1)
      }
      def aggAsOf(v: Int): DataFrame =
        VersionedTable.readAsOf(spark, root, v)
          .groupBy(col("status"))
          // integer-CENTS money algebra (the s13 decade lesson): a double
          // sum over millions of rows drifts ~1e-12 relative with the
          // partial-sum tree, flipping 2dp rounding at 1e11 magnitudes —
          // the before/after gate then fails on association order, not on
          // data. Cents sums are exact integers, association-free.
          .agg(count(lit(1)).as("n_keys"),
               round(sum(round(col("price") * 100).cast("long")) / 100.0, 2)
                 .as("sum_price"))
          .select(lit(v.toLong).as("as_of_version"), col("status"),
                  col("n_keys"), col("sum_price"))
      val before = (2 to 3).map(aggAsOf).reduce(_ unionByName _)
        .orderBy(col("as_of_version"), col("status")).collect().toSeq
      expire(spark, root, keep = 2)
      val outDf = (2 to 3).map(aggAsOf).reduce(_ unionByName _)
        .orderBy(col("as_of_version"), col("status"))
      val after = outDf.collect().toSeq
      require(after == before,
        s"u22 gate: retained snapshots changed across expiry:\n$before\nvs\n$after")
      val e = try { VersionedTable.readAsOf(spark, root, 1).count(); null }
              catch { case ex: IllegalArgumentException => ex }
      require(e != null && e.getMessage.contains("expired"),
        "u22 gate: time travel below the floor must fail loudly")
      val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      val vdirs = try {
        import scala.jdk.CollectionConverters._
        dirs.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("version=")).toList
      } finally dirs.close()
      require(vdirs.sorted == List("version=2", "version=3"),
        s"u22 gate: GC left $vdirs")
      outDf
    }
  }

  /** DuckDB replay: u11's resolution arithmetic restricted to as-of
    * v ∈ {2, 3} — expiry must be invisible to retained snapshots. */
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
           FROM hist h CROSS JOIN (VALUES (2), (3)) v(v)
           WHERE h.version <= v.v) t
         WHERE rn = 1 AND NOT deleted)
       SELECT CAST(as_of_version AS BIGINT) AS as_of_version, status,
              count(*) AS n_keys,
              round(sum(CAST(round(price * 100) AS BIGINT)) / 100.0, 2) AS sum_price
       FROM resolved GROUP BY 1, 2 ORDER BY as_of_version, status"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("u22_snapshot_expiry", u22ExpiryQuery, Some(oracleSql)))
}
