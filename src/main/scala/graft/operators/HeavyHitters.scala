package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import graft.QuerySpec

/** Misra–Gries heavy hitters: a hand-built MERGEABLE sketch (Agarwal et
  * al., "Mergeable Summaries") complementing the engine-native sketch
  * queries (q21 HLL, q29 approx percentiles). One pass, k counters per
  * partition, associative merge — the canonical mapPartitions+treeReduce
  * shape for when an aggregate genuinely needs imperative per-partition
  * state (the documented last-resort tier of the operator preference
  * order, and the right tier for sketches).
  *
  * Guarantees (k counters, n rows): every item with true frequency
  * > n/(k+1) survives the sketch, and each surviving estimate
  * undercounts by at most n/(k+1). The driver query VALIDATES both
  * bounds in-query against exact counts and fails fast on violation —
  * approximate by design, so rows-only, but never silently wrong.
  */
object HeavyHitters {

  /** One-pass Misra–Gries over a partition: at most k counters. */
  private[operators] def sketchPartition(it: Iterator[Long], k: Int): (Long, Array[(Long, Long)]) = {
    val m = mutable.LongMap.empty[Long]
    var n = 0L
    it.foreach { x =>
      n += 1
      if (m.contains(x)) m(x) += 1
      else if (m.size < k) m(x) = 1L
      else {
        // decrement-all step; drop exhausted counters
        val dead = mutable.ArrayBuffer.empty[Long]
        m.foreachEntry { (key, v) => if (v == 1L) dead += key else m(key) = v - 1 }
        dead.foreach(m.remove)
      }
    }
    (n, m.toArray)
  }

  /** Associative merge: sum counters, then subtract the (k+1)-largest
    * combined count from every counter (the mergeable-summaries rule
    * that preserves the n/(k+1) error bound). */
  private[operators] def merge(a: (Long, Array[(Long, Long)]),
                               b: (Long, Array[(Long, Long)]), k: Int): (Long, Array[(Long, Long)]) = {
    val m = mutable.LongMap.empty[Long]
    a._2.foreach { case (key, v) => m(key) = m.getOrElse(key, 0L) + v }
    b._2.foreach { case (key, v) => m(key) = m.getOrElse(key, 0L) + v }
    if (m.size > k) {
      val counts = m.values.toArray.sorted(Ordering[Long].reverse)
      val cut = counts(k) // (k+1)-th largest
      val out = m.iterator.collect { case (key, v) if v > cut => key -> (v - cut) }.toArray
      (a._1 + b._1, out)
    } else (a._1 + b._1, m.toArray)
  }

  /** q39: heavy hitters over a skewed key (a planted hot key carries a
    * third of the mass, so the frequency guarantee is non-vacuous).
    * Emits (key, est, exact, max undercount) for every surviving
    * counter; fails fast unless (a) every guaranteed-frequent item
    * survived and (b) every estimate is within the proven bound. */
  def query(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import spark.implicits._
    val keys = graft.Tables.lineitem(spark, dir)
      .select(when($"l_orderkey" % 3 === 0, 0L).otherwise($"l_partkey").as("key"))
    val (n, sketch) = keys.rdd.map(_.getLong(0))
      .mapPartitions(it => Iterator(sketchPartition(it, k)))
      .treeReduce((x, y) => merge(x, y, k))
    val bound = n / (k + 1) // max undercount AND frequency threshold
    val est = sketch.toSeq.toDF("key", "est_count")
    val exact = keys.groupBy($"key").agg(count(lit(1)).as("exact_count"))
    val out = est.join(exact, "key")
      .withColumn("max_undercount", lit(bound))
      .orderBy($"exact_count".desc, $"key")
      .collect()
    // (a) guaranteed-frequent items must have survived
    val sketchKeys = sketch.map(_._1).toSet
    val missedHeavy = exact.filter($"exact_count" > bound)
      .select($"key").collect().map(_.getLong(0)).filterNot(sketchKeys)
    require(missedHeavy.isEmpty,
      s"items with freq > $bound missing from sketch: ${missedHeavy.mkString(",")}")
    // (b) estimates must undercount by at most the bound, never overcount
    out.foreach { r =>
      val (e, x) = (r.getLong(1), r.getLong(2))
      require(e <= x && x - e <= bound,
        s"estimate $e for key ${r.getLong(0)} outside [${x - bound}, $x]")
    }
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*),
      est.join(exact, "key").withColumn("max_undercount", lit(bound)).schema)
  }

  /** q39b: the EXACT heavy-hitters twin (the q21b/q29c close-out
    * pattern — every approximate operator ships a hash-gated exact
    * companion): all keys with frequency above the same n/(k+1)
    * threshold q39's Misra–Gries guarantees to surface, computed
    * exactly. One keyed agg; the total n is re-derived from the
    * key-cardinality-sized counts table (a second tiny agg + 1-row
    * broadcast), NOT a second scan of the data. Integer `div` keeps the
    * threshold engine-exact. */
  def exactQuery(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import spark.implicits._
    val keys = graft.Tables.lineitem(spark, dir)
      .select(when($"l_orderkey" % 3 === 0, 0L).otherwise($"l_partkey").as("key"))
    val counts = keys.groupBy($"key").agg(count(lit(1)).as("exact_count"))
    val tot = counts.agg(sum($"exact_count").as("n"))
    counts.crossJoin(broadcast(tot))
      .withColumn("threshold", expr(s"n div ${k + 1}"))
      .filter($"exact_count" > $"threshold")
      .select($"key", $"exact_count", $"threshold")
      .orderBy($"exact_count".desc, $"key")
  }

  /** DuckDB replay of q39b: same keyed counts, same integer-division
    * threshold, same ordering. */
  def exactOracleSql(k: Int = 8): String =
    s"""WITH keys AS (
         SELECT CASE WHEN l_orderkey % 3 = 0 THEN 0
                     ELSE l_partkey END AS key
         FROM lineitem),
       c AS (SELECT key, count(*) AS exact_count FROM keys GROUP BY key),
       t AS (SELECT CAST(sum(exact_count) AS BIGINT) AS n FROM c)
       SELECT c.key, CAST(c.exact_count AS BIGINT) AS exact_count,
              CAST(t.n // ${k + 1} AS BIGINT) AS threshold
       FROM c, t
       WHERE c.exact_count > t.n // ${k + 1}
       ORDER BY exact_count DESC, key"""

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q39_heavy_hitters", (s, d) => query(s, d), None),
    // q39b: exact heavy hitters over q39's guarantee threshold — the
    // hash-gated twin that closes the self-val set (q21→q21c, q29→q29c,
    // q39→q39b; only the engine-private sketch states stay rows-only).
    QuerySpec("q39b_exact_hitters", (s, d) => exactQuery(s, d), Some(exactOracleSql())))
}
