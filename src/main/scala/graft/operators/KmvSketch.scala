package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.2 R20c (q21c): KMV DISTINCT-COUNT SKETCH — the k-minimum-values /
  * theta-sketch estimator (Bar-Yossef et al. 2002; Apache DataSketches'
  * theta family): hash every value uniformly into [0, 1), keep only the
  * k smallest hashes, and estimate the distinct count as
  * (k − 1) / U_(k), where U_(k) is the k-th smallest normalized hash.
  *
  * Why this exists next to q21's HLL++: HLL sketch BYTES are
  * engine-private (Spark's HLL++ and DuckDB's HLL give different
  * estimates on the same data — q21 is self-validating by design), but
  * KMV is a DETERMINISTIC function of the value set: same hash → same
  * k-th minimum → same estimate on every engine, every retry, every
  * partitioning. That buys the two properties a production pipeline
  * wants from a sketch: (a) exact cross-engine auditability — the
  * driver hash-gates the ESTIMATE itself, not just a bound; (b)
  * trivially mergeable — union of per-partition k-minimum sets, then
  * re-take the k smallest, so 100 TB of partial sketches combine
  * loss-free.
  *
  * Scale shape, production path (`audit = false`): ONE narrow pass —
  * each scan partition folds its rows into a bounded k-element distinct
  * min-set (a capped TreeSet: O(k) memory, no distinct(), no sort), and
  * the ≤ k-longs-per-partition partials treeReduce to the driver. Zero
  * shuffle of the value set, zero shuffle at all.
  *
  * The driver query (q21c) deliberately runs the AUDITED twin
  * (`audit = true`): it ALSO computes the exact distinct count — paying
  * the same distinct shuffle as q21b — to hash-gate the sketch's error
  * against ground truth every round. That audit is the correctness
  * harness, not the operator: a production pipeline runs the
  * `audit = false` path and drops the exact_parts / rel_err columns,
  * keeping only the one narrow pass.
  *
  * The md5-high-32 hash is the repo's proven cross-engine parity class
  * (the m12b/u21 bucket idiom); the estimate arithmetic is one double
  * division, floor-quantized to micro-units so the gate is integer.
  */
object KmvSketch {

  val K = 256

  /** One partition's k smallest DISTINCT hashes, ascending. Bounded
    * O(k) state: insert iff below the current k-th minimum (TreeSet
    * dedups), evict the largest on overflow. */
  private[operators] def kminPartition(it: Iterator[Long], k: Int): Array[Long] = {
    val s = new java.util.TreeSet[java.lang.Long]()
    it.foreach { h =>
      if (s.size < k) s.add(h)
      else if (h < s.last) { if (s.add(h)) s.pollLast() }
    }
    val out = new Array[Long](s.size)
    var i = 0
    val iter = s.iterator()
    while (iter.hasNext) { out(i) = iter.next().longValue; i += 1 }
    out
  }

  /** Loss-free KMV merge: union two ascending distinct k-sets, re-take
    * the k smallest (two-pointer merge, dedup on equality). */
  private[operators] def mergeKmin(a: Array[Long], b: Array[Long], k: Int): Array[Long] = {
    val out = new Array[Long](math.min(k, a.length + b.length))
    var i = 0; var j = 0; var n = 0
    while (n < k && (i < a.length || j < b.length)) {
      val v =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) { val x = a(i); i += 1; x }
        else { val x = b(j); j += 1; x }
      if (n == 0 || out(n - 1) != v) { out(n) = v; n += 1 }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** (k_used, kth_hash, est_micro[, exact, rel_err_micro]) for the
    * distinct values of `valueCol`. `audit = true` adds the exact
    * distinct count + 4σ fail-fast gate (costs a distinct shuffle —
    * harness-only; see header). */
  def sketch(df: DataFrame, valueCol: String, k: Int = K,
             audit: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // uniform 32-bit hash of the value — distinct-safe (same value →
    // same hash) and cross-engine exact (md5 hex prefix)
    val hashed = df.select(
      conv(substring(md5(col(valueCol).cast("string")), 1, 8), 16, 10)
        .cast("long").as("h"))
    // the one narrow pass: bounded per-partition distinct bottom-k,
    // k-longs-per-partition partials merged on the tree
    val rows = hashed.rdd.map(_.getLong(0))
      .mapPartitions(it => Iterator(kminPartition(it, k)))
      .treeReduce((x, y) => mergeKmin(x, y, k))
    val kUsed = rows.length
    require(kUsed > 1, s"KMV needs at least 2 distinct values, got $kUsed")
    val kth = rows.last // ascending → last of the kept set = U_(k)
    // estimate: (k-1) / (kth / 2^32); if the corpus has fewer than k
    // distinct values the sketch IS the exact set
    val est =
      if (kUsed < k) kUsed.toDouble
      else (kUsed - 1).toDouble * 4294967296.0 / kth.toDouble
    if (!audit)
      return Seq((kUsed.toLong, kth, math.floor(est * 1e6).toLong))
        .toDF("k_used", "kth_hash", "est_micro")
    val exact = hashed.distinct().count()
    val relErr = math.abs(est - exact) / exact.toDouble
    // fail-fast quality bound: KMV rel. std. error is ~1/sqrt(k-2)
    // (≈ 0.063 at k=256); 4σ is a structural-breakage tripwire
    require(relErr <= 4.0 / math.sqrt((k - 2).toDouble),
      f"q21c KMV rel error $relErr%.4f breaches 4σ at k=$k — hashing/merge broken")
    Seq((kUsed.toLong, kth, math.floor(est * 1e6).toLong, exact,
         math.floor(relErr * 1e6).toLong))
      .toDF("k_used", "kth_hash", "est_micro", "exact_parts", "rel_err_micro")
  }

  /** q21c: the audited KMV sketch over lineitem's part keys (q21's
    * domain) — estimate AND ground-truth error, both hash-gated. */
  def query(spark: SparkSession, dir: String): DataFrame =
    sketch(Tables.lineitem(spark, dir), "l_partkey")

  /** DuckDB replay: same md5-high-32 hashes, same k-th minimum, same
    * floor-quantized estimate and error — the sketch is a deterministic
    * function of the value set, so the ESTIMATE itself is the gate. */
  val oracleSql: String =
    s"""WITH h AS (
         SELECT DISTINCT CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h
         FROM lineitem),
       km AS (
         SELECT h FROM h ORDER BY h ASC LIMIT $K),
       agg AS (
         SELECT count(*) AS k_used, max(h) AS kth,
                (SELECT count(*) FROM h) AS exact
         FROM km),
       est AS (
         SELECT k_used, kth, exact,
           CASE WHEN k_used < $K THEN CAST(k_used AS DOUBLE)
                ELSE (k_used - 1) * 4294967296.0 / kth END AS e
         FROM agg)
       SELECT CAST(k_used AS BIGINT) AS k_used, kth AS kth_hash,
         CAST(floor(e * 1e6) AS BIGINT) AS est_micro,
         CAST(exact AS BIGINT) AS exact_parts,
         CAST(floor(abs(e - exact) / exact * 1e6) AS BIGINT) AS rel_err_micro
       FROM est"""

  // q21c: a DETERMINISTIC distinct sketch (KMV/theta) whose estimate
  // itself is hash-gated — the auditable twin of q21's HLL++.
  def specs: Seq[QuerySpec] = Seq(QuerySpec("q21c_kmv_distinct", query, Some(oracleSql)))
}
