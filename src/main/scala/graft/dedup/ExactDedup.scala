package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QuerySpec, Tables}

/** §2.3 P1: exact deduplication by content hash.
  *
  * Scale: one shuffle keyed on the 128-bit content hash; group sizes are
  * tiny (true duplicates only), so there is no skew concern and the
  * aggregation is map-side combinable.
  */
object ExactDedup {

  def contentHash(text: Column): Column = md5(text)

  /** Duplicate groups (hash, copy count, canonical keeper id). */
  def duplicateGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(contentHash(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))
      .filter(col("n_copies") > 1)

  /** Drop exact duplicates, keeping the smallest id per content hash. */
  def deduplicate(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(contentHash(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** p1: duplicate groups over the documents corpus. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    duplicateGroups(Tables.documents(spark, dir), "text", "doc_id")
      .orderBy($"keep_id")
  }

  /** p1b: corpus-level dedup summary (always non-empty). */
  def summaryQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir)
    d.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(contentHash($"text")).as("n_distinct"),
      (count(lit(1)) - countDistinct(contentHash($"text"))).as("n_dup_docs"))
  }

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("p1_dedup_exact", query, Some(
      """SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keep_id
         FROM documents
         GROUP BY md5(text) HAVING count(*) > 1
         ORDER BY keep_id""")),
    QuerySpec("p1b_dedup_summary", summaryQuery, Some(
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct,
                count(*) - count(DISTINCT md5(text)) AS n_dup_docs
         FROM documents""")))
}
