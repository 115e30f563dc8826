package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** Text source/sink coverage beyond parquet and libsvm: CSV and JSON
  * write→read roundtrips over the orders table. Each query serializes
  * a projection through the format and summarizes the read-back rows;
  * the oracle computes the same summary straight from parquet, so any
  * loss in quoting, header handling, schema application, or
  * double formatting hash-mismatches. (Both formats use Java's
  * shortest-round-trip double rendering, so numeric fidelity is exact.)
  */
object SourceRoundtrips {

  private def ordersSlice(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
              col("o_totalprice"), col("o_orderpriority"))

  private def summarize(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           countDistinct(col("o_custkey")).as("n_custs"),
           round(sum(col("o_totalprice")), 2).as("sum_price"),
           min(col("o_orderkey")).as("min_key"),
           max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderstatus"))

  /** src1: CSV (header + explicit schema on read). */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val o = ordersSlice(spark, dir)
    graft.Scratch.collected("csv") { tmp =>
      o.write.mode("overwrite").option("header", "true").csv(tmp)
      val back = spark.read.schema(o.schema).option("header", "true").csv(tmp)
      summarize(back)
    }
  }

  /** src2: JSON lines (schema-applied read). */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val o = ordersSlice(spark, dir)
    graft.Scratch.collected("json") { tmp =>
      o.write.mode("overwrite").json(tmp)
      val back = spark.read.schema(o.schema).json(tmp)
      summarize(back)
    }
  }

  /** src3: ORC (the second columnar format Spark ships a native
    * vectorized reader for). Unlike the text formats above, ORC carries
    * its own schema and min/max stripe statistics, so this roundtrip
    * also exercises the columnar read path's filter pushdown: the
    * read-back is summarized through a pushed `o_totalprice > 0`
    * predicate (a tautology on TPC-H money — row counts must survive). */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val o = ordersSlice(spark, dir)
    graft.Scratch.collected("orc") { tmp =>
      o.write.mode("overwrite").orc(tmp)
      val back = spark.read.orc(tmp).filter(col("o_totalprice") > 0)
      summarize(back)
    }
  }

  /** src4: raw TEXT lines — the format raw corpora actually arrive in.
    * Documents are rendered as tab-separated lines through the `text`
    * sink, read back with the line source, and re-parsed by column
    * split; the per-lang summary (counts + md5 extremes over the
    * CONTENT hash) mismatches on any line-splitting, encoding, or
    * field-order defect. The content rides as md5(text) because the
    * line format would not round-trip text containing the separator —
    * exactly the property this query documents. */
  def textRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("m"))
    graft.Scratch.collected("text") { tmp =>
      d.select(concat_ws("\t", col("doc_id"), col("lang"), col("m")).as("value"))
        .write.mode("overwrite").text(tmp)
      val parts = split(col("value"), "\t")
      val back = spark.read.text(tmp)
        .select(parts.getItem(0).cast("long").as("doc_id"),
                parts.getItem(1).as("lang"), parts.getItem(2).as("m"))
      back.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("m")).as("n_md5"),
             min(col("m")).as("min_md5"), max(col("m")).as("max_md5"),
             min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("lang"))
    }
  }

  /** src5: XML (Spark 4's built-in source — the format enterprise feeds
    * and document corpora still arrive in). Orders are written as one
    * `<order>` row tag each and read back with an explicit schema; any
    * loss in element naming, escaping, type coercion, or the rowTag
    * contract hash-mismatches against the parquet-derived oracle. */
  def xmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val o = ordersSlice(spark, dir)
    graft.Scratch.collected("xml") { tmp =>
      o.write.mode("overwrite").option("rowTag", "order").xml(tmp)
      val back = spark.read.schema(o.schema).option("rowTag", "order").xml(tmp)
      summarize(back)
    }
  }

  /** The oracle of every orders roundtrip (src1–src3, src5, src6): the
    * summary of the parquet table itself, so any serialization loss
    * mismatches. */
  private[sources] val ordersSummarySql: String =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
       round(sum(o_totalprice), 2) AS sum_price,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  def specs: Seq[QuerySpec] = Seq(
    // src1/src2: the roundtrip queries serialize orders through CSV/JSON
    // and summarize the read-back rows; the oracle summarizes the
    // parquet directly — any serialization loss mismatches.
    QuerySpec("src1_csv_roundtrip", csvRoundtrip, Some(ordersSummarySql)),
    QuerySpec("src2_json_roundtrip", jsonRoundtrip, Some(ordersSummarySql)),
    // src3: ORC roundtrip (own-schema columnar format + pushed filter);
    // same parquet-side summary oracle as src1/src2
    QuerySpec("src3_orc_roundtrip", orcRoundtrip, Some(ordersSummarySql)),
    QuerySpec("src4_text_roundtrip", textRoundtrip, Some(
      """SELECT lang, count(*) AS n_docs, count(DISTINCT m) AS n_md5,
           min(m) AS min_md5, max(m) AS max_md5,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM (SELECT doc_id, lang, md5(text) AS m FROM documents)
         GROUP BY lang ORDER BY lang""")),
    // src5: XML roundtrip (Spark 4 built-in source); same summary oracle
    QuerySpec("src5_xml_roundtrip", xmlRoundtrip, Some(ordersSummarySql)))
}
