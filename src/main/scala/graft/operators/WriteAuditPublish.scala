package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** §2.4 U16: WRITE-AUDIT-PUBLISH — the lakehouse deployment contract
  * (Iceberg WAP, Delta "blind append + constraint check", Netflix's
  * original pattern): a job never writes into the serving location;
  * it stages the output, runs AUDITS against the staged files (row
  * conservation, key integrity, null contracts), and only a passing
  * audit atomically publishes the staged directory. Readers see the
  * old version or the new one — never a half-written table.
  *
  * On plain parquet the atomic publish is a directory RENAME (one
  * metadata operation on any POSIX/HDFS-class filesystem; object
  * stores swap a manifest instead — same protocol, different commit
  * primitive). A failing audit leaves serving untouched and the staged
  * directory behind for debugging.
  *
  * The query stages a curated orders projection, audits it (row count
  * conserved vs source, key uniqueness, no null keys, money totals
  * conserved in integer cents), publishes, and reports the audit
  * record read back FROM THE PUBLISHED location — the oracle computes
  * the same audit from the raw table, so a publish that lost or
  * duplicated anything hash-mismatches.
  */
object WriteAuditPublish {

  final case class Audit(nRows: Long, nKeys: Long, nNullKeys: Long,
                         sumCents: Long)

  private def auditOf(df: DataFrame): Audit = {
    val r = df.agg(
      count(lit(1)).as("n"),
      count_distinct(col("o_orderkey")).as("k"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nn"),
      sum(round(col("o_totalprice") * 100).cast("long")).as("c")).head()
    Audit(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Stage → audit → publish; returns the published path. Throws (and
    * leaves serving untouched) if any audit fails. */
  def publish(spark: SparkSession, source: DataFrame, root: String,
              version: Int): String = {
    val staged = s"$root/_staging_v$version"
    val serving = s"$root/v$version"
    source.write.mode("overwrite").parquet(staged)
    val src = auditOf(source)
    val stg = auditOf(spark.read.parquet(staged))
    require(stg == src,
      s"WAP audit failed: staged=$stg source=$src — staging left at $staged")
    require(stg.nNullKeys == 0L, s"WAP audit failed: null keys in $staged")
    require(stg.nKeys == stg.nRows, s"WAP audit failed: duplicate keys in $staged")
    // atomic publish: one rename — readers see v$version whole or not at
    // all. Files.move(ATOMIC_MOVE), not File.renameTo: renameTo returns a
    // bare false, indistinguishable across "serving already exists from a
    // prior partial run", "cross-filesystem root", and permission errors.
    // A pre-existing serving dir is rejected explicitly — publishing the
    // same version twice is a pipeline bug, never something to overwrite.
    val servingPath = java.nio.file.Paths.get(serving)
    require(!java.nio.file.Files.exists(servingPath),
      s"publish refused: serving path already exists: $serving " +
        "(a prior partial run? clean it up or bump the version)")
    try java.nio.file.Files.move(java.nio.file.Paths.get(staged), servingPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.AtomicMoveNotSupportedException =>
        throw new IllegalStateException(
          s"publish failed: $root spans filesystems, atomic rename impossible " +
            s"($staged -> $serving)", e)
      case e: java.io.IOException =>
        throw new IllegalStateException(
          s"publish rename failed: $staged -> $serving", e)
    }
    serving
  }

  /** u16: stage + audit + publish a curated orders projection, then
    * report the audit record from the PUBLISHED files. */
  def u16WapQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Scratch.collected("wap") { root =>
      val curated = graft.Tables.orders(spark, dir)
        .filter($"o_totalprice" > 0)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderstatus")
      val servingPath = publish(spark, curated, root, version = 1)
      val a = auditOf(spark.read.parquet(servingPath))
      Seq((a.nRows, a.nKeys, a.sumCents))
        .toDF("n_rows", "n_keys", "sum_cents")
    }
  }

  val oracleSql: String =
    """SELECT count(*) AS n_rows,
              CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       FROM orders
       WHERE o_totalprice > 0"""

  def specs: Seq[QuerySpec] =
    Seq(QuerySpec("u16_write_audit_publish", u16WapQuery, Some(oracleSql)))
}
