package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}

/** §2.2 R28c (q29c): DETERMINISTIC SAMPLE QUANTILE SKETCH — the
  * bottom-k-by-hash companion to q21c's KMV: per group, keep the k rows
  * whose (content-addressed) hash is smallest — a uniform random sample
  * that is a deterministic function of the data (same rows on every
  * engine, retry, and partitioning, and mergeable by re-taking the k
  * smallest of a union) — and read interpolated quantiles off the
  * sorted sample.
  *
  * Why next to q29: t-digest/GK sketch STATE is engine-private (Spark's
  * approx_percentile cannot be replayed by DuckDB — q29 is
  * self-validating by design), but the hash-sample estimate is the
  * same number everywhere, so the driver hash-gates the ESTIMATE.
  * Accuracy is the classic sample-quantile bound (rank error
  * σ = √(p(1−p)/k) quantiles — ~0.022 at p50, k=512), enforced
  * in-query against the exact interpolated percentiles via a >4σ
  * rank band.
  *
  * Scale shape: one narrow hash projection, one per-group top-k window
  * (k rows per group survive), and a bounded per-group sort of ≤ k
  * values — the full value set is never globally sorted (q28's exact
  * path pays the compressed sort; this is the cheap always-on monitor
  * you'd run beside it at 100 TB).
  */
object SampleQuantiles {

  val K = 512

  private def interp(vals: Column, n: Column, p: Double): Column = {
    val pos = (n - lit(1)).cast("double") * lit(p)
    val lo = floor(pos)
    val f = pos - lo
    val vLo = element_at(vals, lo.cast("int") + 1)
    val vHi = coalesce(element_at(vals, lo.cast("int") + 2), vLo)
    // 2dp via floor(x*100 + 0.5)/100, NOT round(x, 2): at n=512 the p50
    // position has f=0.5, the midpoint of two cent values lands on an
    // exact half-cent, and Spark's round (decimal-string HALF_UP) and
    // DuckDB's (binary) disagree by a penny on that boundary. floor is
    // pure binary arithmetic — identical expression shape → identical
    // double bits → identical result on both engines, boundary or not.
    floor((vLo * (lit(1.0) - f) + vHi * f) * 100 + lit(0.5)) / 100.0
  }

  /** The sampling core, factored out so the spec can drive it over a
    * planted-duplicate-key fixture: per-return-flag bottom-k-by-hash
    * sample of extended price → interpolated p50/p95. */
  private[graft] def sampleOf(li: DataFrame): DataFrame = {
    import li.sparkSession.implicits._
    // two-level bottom-k: the group key has only ~3 values, so a single
    // per-group window would funnel the WHOLE table through 3 sort
    // partitions (20M rows each at the decade). Level 1 takes each
    // (group, scan-partition)'s local bottom-k — spread over
    // groups × partitions keys — and the global window then ranks only
    // ≤ k × partitions survivors per group. Exact: every global
    // bottom-k row is in its partition's bottom-k (the PqAnn shortlist
    // lemma).
    // The order key MUST be total over the row MULTISET, not an assumed
    // primary key: (l_orderkey, l_linenumber) is NOT unique in the
    // driver testdata (11,785 duplicate pairs at sf0.01 — two physical
    // rows share (5325, 6) with DIFFERENT prices straddling the k=512
    // boundary of the N group). Hashing only the pair made the winner
    // scan-order-arbitrary and flipped sp95 between engines/runs.
    // Fix: content-address the full projected row — price rides in the
    // hash AND the tie-break as exact integer CENTS (a double rendered
    // to string is engine-formatting-dependent; round(x*100) cast to
    // long is the same integer everywhere). Rows identical in
    // (ok, ln, cents) are interchangeable for the sample (the output
    // reads only the price), so the sample multiset is deterministic
    // even under full-row duplication.
    val wLocal = Window.partitionBy($"l_returnflag", $"pid")
      .orderBy($"h", $"l_orderkey", $"l_linenumber", $"cents")
    val w = Window.partitionBy($"l_returnflag")
      .orderBy($"h", $"l_orderkey", $"l_linenumber", $"cents")
    Materialize(li
      .withColumn("cents", round($"l_extendedprice" * 100).cast("long"))
      .withColumn("h",
        conv(substring(md5(concat_ws(":", $"l_orderkey", $"l_linenumber", $"cents")), 1, 8),
          16, 10).cast("long"))
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(wLocal))
      .filter($"lrn" <= K)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= K)
      .groupBy($"l_returnflag")
      .agg(sort_array(collect_list($"l_extendedprice")).as("vals"))
      .select($"l_returnflag",
        size($"vals").cast("long").as("n_sample"),
        interp($"vals", size($"vals"), 0.5).as("sp50_price"),
        interp($"vals", size($"vals"), 0.95).as("sp95_price"))
      .orderBy($"l_returnflag"))
  }

  /** q29c: per-return-flag hash-sample quantiles of extended price,
    * hash-gated; fail-fast rank-band gate vs the exact percentiles. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val sampled = sampleOf(li)
    // >4σ rank-band gate: the sampled p50 must land between the exact
    // p40 and p60 values, the sampled p95 between p90 and p99
    val bands = graft.queries.Relational.exactPercentilesOf(li,
      "l_returnflag", "l_extendedprice",
      Seq(0.4 -> "p40", 0.6 -> "p60", 0.9 -> "p90", 0.99 -> "p99"))
    val bad = sampled.join(bands, "l_returnflag")
      .filter($"sp50_price" < $"p40" || $"sp50_price" > $"p60" ||
              $"sp95_price" < $"p90" || $"sp95_price" > $"p99")
      .count()
    require(bad == 0,
      s"q29c: $bad group(s) fell outside the >4-sigma sample-quantile band — sampling broken")
    sampled
  }

  /** DuckDB replay: same content-addressed bottom-k sample (QUALIFY
    * over the md5 order), same sorted-list interpolation arithmetic.
    * The hash and tie-break include the price as integer cents — see
    * the totality note in `sampleOf` (an assumed-unique (ok, ln) key
    * made the old sample scan-order-arbitrary on duplicated pairs). */
  val oracleSql: String =
    s"""WITH s AS (
         SELECT l_returnflag, l_extendedprice FROM (
           SELECT l_returnflag, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY
               CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                 CAST(l_linenumber AS VARCHAR) || ':' ||
                 CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR)), 1, 8)) AS BIGINT),
               l_orderkey, l_linenumber,
               CAST(round(l_extendedprice * 100) AS BIGINT)) AS rn
           FROM lineitem) t WHERE rn <= $K),
       g AS (
         SELECT l_returnflag, list_sort(list(l_extendedprice)) AS vals
         FROM s GROUP BY l_returnflag),
       q AS (
         SELECT l_returnflag, len(vals) AS n, vals,
           CAST(len(vals) - 1 AS DOUBLE) * 0.5 AS pos50,
           CAST(len(vals) - 1 AS DOUBLE) * 0.95 AS pos95
         FROM g)
       SELECT l_returnflag, CAST(n AS BIGINT) AS n_sample,
         floor((vals[CAST(floor(pos50) AS INT) + 1] * (1.0 - (pos50 - floor(pos50)))
           + coalesce(vals[CAST(floor(pos50) AS INT) + 2],
                      vals[CAST(floor(pos50) AS INT) + 1]) * (pos50 - floor(pos50))) * 100 + 0.5) / 100.0
           AS sp50_price,
         floor((vals[CAST(floor(pos95) AS INT) + 1] * (1.0 - (pos95 - floor(pos95)))
           + coalesce(vals[CAST(floor(pos95) AS INT) + 2],
                      vals[CAST(floor(pos95) AS INT) + 1]) * (pos95 - floor(pos95))) * 100 + 0.5) / 100.0
           AS sp95_price
       FROM q ORDER BY l_returnflag"""

  // q29c: bottom-k-by-hash sample quantiles — the deterministic,
  // mergeable, hash-gated companion to q29's t-digest-class sketch.
  def specs: Seq[QuerySpec] = Seq(QuerySpec("q29c_sample_quantiles", query, Some(oracleSql)))
}
