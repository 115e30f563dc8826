package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P27: weighted reservoir sampling (Efraimidis–Spirakis A-ES) as a
  * custom typed AGGREGATE — "sample the k best-weighted documents per
  * group, one pass, no global sort", the selection step a curation
  * pipeline runs after scoring (sample high-quality docs per source /
  * language / domain bucket).
  *
  * A-ES: each row draws u ∈ (0,1) and is ranked by key = u^(1/w); the
  * top-k keys are a weighted sample without replacement. Here u is
  * content-addressed (derived from md5 of the doc id, like the p16/p24
  * hash gates) instead of pseudo-random, which makes the sample a pure
  * function of the data — stable under retries, repartitioning, and
  * engine choice, and therefore ORACLE-CHECKABLE: with deterministic u,
  * A-ES is exactly "top-k by a computable key", which DuckDB replays
  * with a window. Same statistical guarantees with respect to the hash's
  * uniformity.
  *
  * The Spark-architecture point is the AGGREGATE: [[WeightedReservoir]]
  * is an `Aggregator` (→ `udaf`), the typed custom-aggregation tier
  * between builtin functions and raw mapPartitions. Each task folds its
  * rows into a k-bounded buffer, partial buffers merge associatively
  * (bounded merge-sort), so the shuffle carries at most k rows per
  * (partition, group) — versus the window formulation, which shuffles
  * and sorts EVERY row of every group. At 100 TB with 20 sources,
  * that's the difference between a full-corpus sort and 20·k·tasks
  * tuples. The spec proves aggregator ≡ window on the same keys across
  * partitionings; the oracle proves it end-to-end against DuckDB.
  */
class WeightedReservoir(k: Int)
  extends Aggregator[(Double, Long, Long), Array[(Double, Long, Long)], Array[(Double, Long, Long)]] {

  // best-first order: larger key wins; equal keys broken by smaller id
  // (the same total order the oracle's window uses)
  private def better(a: (Double, Long, Long), b: (Double, Long, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  override def zero: Array[(Double, Long, Long)] = Array.empty

  /** Insert keeping the buffer sorted best-first and bounded at k.
    * k is small (samples, not scans), so linear insertion beats heap
    * constant factors and keeps merge() a trivial sorted merge. */
  override def reduce(buf: Array[(Double, Long, Long)],
                      x: (Double, Long, Long)): Array[(Double, Long, Long)] = {
    if (buf.length >= k && better(buf(k - 1), x)) return buf
    val out = new Array[(Double, Long, Long)](math.min(buf.length + 1, k))
    var i = 0
    while (i < buf.length && better(buf(i), x)) { out(i) = buf(i); i += 1 }
    if (i < out.length) out(i) = x
    var j = i
    while (j + 1 < out.length) { out(j + 1) = buf(j); j += 1 }
    out
  }

  override def merge(a: Array[(Double, Long, Long)],
                     b: Array[(Double, Long, Long)]): Array[(Double, Long, Long)] = {
    val out = new Array[(Double, Long, Long)](math.min(a.length + b.length, k))
    var i = 0; var j = 0; var o = 0
    while (o < out.length) {
      if (j >= b.length || (i < a.length && better(a(i), b(j)))) { out(o) = a(i); i += 1 }
      else { out(o) = b(j); j += 1 }
      o += 1
    }
    out
  }

  override def finish(r: Array[(Double, Long, Long)]): Array[(Double, Long, Long)] = r

  override def bufferEncoder: Encoder[Array[(Double, Long, Long)]] =
    ExpressionEncoder[Array[(Double, Long, Long)]]()
  override def outputEncoder: Encoder[Array[(Double, Long, Long)]] =
    ExpressionEncoder[Array[(Double, Long, Long)]]()
}

object WeightedSample {

  /** The deterministic A-ES key for a (doc_id, weight) pair, as columns:
    * u = (md5-prefix32 + 0.5) / 2^32 ∈ (0,1), key = u^(1/w). Shared by
    * the aggregate query, the spec's window twin, and (textually) the
    * DuckDB oracle. */
  def aesKey(docId: org.apache.spark.sql.Column,
             weight: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val u = (conv(substring(md5(concat(lit("ws:"), docId.cast("string"))), 1, 8),
                  16, 10).cast("double") + 0.5) / lit(4294967296.0)
    pow(u, lit(1.0) / weight)
  }

  /** p27: per-source weighted sample of documents, weight = text length
    * (longer docs proportionally likelier — the "sample by quality
    * score" shape with a replayable score). One aggregation, map-side
    * combined, k rows per group out. */
  def query(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val sampler = udaf(new WeightedReservoir(k), ExpressionEncoder[(Double, Long, Long)]())
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
              (length(col("text")) + 1).cast("long").as("weight"))
      .withColumn("key", aesKey(col("doc_id"), col("weight").cast("double")))
    docs.groupBy(col("source"))
      .agg(sampler(col("key"), col("doc_id"), col("weight")).as("picks"))
      .select(col("source"), posexplode(col("picks")))
      .select(col("source"),
              (col("pos") + 1).cast("long").as("sample_rank"),
              col("col._2").as("doc_id"),
              col("col._3").as("weight"))
      .orderBy(col("source"), col("sample_rank"))
  }

  /** The oracle's formulation — identical keys through a window — used
    * by the spec to prove aggregate ≡ window under any partitioning. */
  def windowTwin(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
              (length(col("text")) + 1).cast("long").as("weight"))
      .withColumn("key", aesKey(col("doc_id"), col("weight").cast("double")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("key").desc, col("doc_id"))
    docs.withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
      .select(col("source"), col("sample_rank"), col("doc_id"), col("weight"))
      .orderBy(col("source"), col("sample_rank"))
  }

  def specs: Seq[QuerySpec] = Seq(
    // p27: deterministic A-ES weighted sampling — with content-addressed
    // u the aggregate is exactly "top-k by a computable key", so the
    // oracle replays key = u^(1/w) through a window. (The Spark side
    // computes it with a one-pass bounded custom aggregate, not a sort.)
    QuerySpec("p27_weighted_sample", (s, d) => query(s, d), Some(
      """SELECT source, CAST(rank_ AS BIGINT) AS sample_rank, doc_id,
           CAST(length(text) + 1 AS BIGINT) AS weight
         FROM (
           SELECT source, doc_id, text,
             row_number() OVER (PARTITION BY source ORDER BY
               pow((CAST(('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
                     / 4294967296.0,
                   1.0 / (length(text) + 1)) DESC, doc_id) AS rank_
           FROM documents) t
         WHERE rank_ <= 5
         ORDER BY source, sample_rank""")))
}
