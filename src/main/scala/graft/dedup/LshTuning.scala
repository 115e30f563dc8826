package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** §2.3 P2b (p2b): LSH BANDING AUTO-TUNING — the parameter-selection
  * step production MinHash deployments run before p2's fixed 16×4
  * banding (datasketch's `optimal_param`; Leskovec et al. MMDS §3.4):
  * given H hashes and a target Jaccard threshold τ, choose the
  * (bands, rows) split minimizing expected error, where a pair with
  * similarity s collides with probability P(s) = 1 − (1 − s^r)^b.
  * FP mass = ∫₀^τ P(s) ds (dissimilar pairs admitted), FN mass =
  * ∫_τ^1 (1 − P(s)) ds (true pairs missed); the tuner evaluates every
  * divisor split of H by fixed-step midpoint quadrature and picks the
  * minimum-error split.
  *
  * Everything is pure deterministic arithmetic, computed through
  * Spark expressions (pow/aggregate over a sequence — the p59 parity
  * discipline: never driver-side libm) and floor-quantized to integer
  * micro-units, so the DuckDB oracle replays every candidate's
  * integrals and the argmin bit-exactly — the hash gate certifies the
  * tuning decision itself. The banding it picks feeds the existing
  * verified-pairs machinery unchanged (spec-driven on a crafted
  * corpus: pairs above the chosen split's threshold collide and
  * verify; pairs far below it are rejected by verification).
  *
  * Scale shape: the tuning table is candidates × quadrature steps
  * (~7 × 400 rows) — free at any corpus size; it exists so the
  * EXPENSIVE choice (how the corpus-sized LSH shuffle is keyed) is
  * principled instead of hard-coded.
  */
object LshTuning {

  val NumHashes = MinHashDedup.NumHashes // 64
  val Steps = 200 // midpoint-rule steps per integral

  /** Divisor splits of H: (bands, rowsPerBand). */
  private[graft] def candidates(h: Int = NumHashes): Seq[(Int, Int)] =
    (1 to h).filter(h % _ == 0).map(b => (b, h / b))

  /** p2b: one row per candidate split — collision threshold, FP/FN
    * integral masses, total error (micro-units), chosen flag. */
  def query(spark: SparkSession, dir: String): DataFrame =
    tuningTable(spark, targetTau = 0.8)

  private[graft] def tuningTable(spark: SparkSession, targetTau: Double): DataFrame = {
    import spark.implicits._
    val cand = candidates().toDF("bands", "rows_per_band")
    // P(s) = 1 - (1 - s^r)^b; midpoint quadrature with Steps steps on
    // [0, tau] (FP) and [tau, 1] (FN) — all through Spark expressions
    def midpoints(lo: Column, hi: Column): Column =
      transform(sequence(lit(0), lit(Steps - 1)),
        i => lo + (hi - lo) * (i.cast("double") + lit(0.5)) / lit(Steps.toDouble))
    def pCollide(s: Column, b: Column, r: Column): Column =
      lit(1.0) - pow(lit(1.0) - pow(s, r.cast("double")), b.cast("double"))
    def integral(vals: Column, lo: Column, hi: Column): Column =
      aggregate(vals, lit(0.0), (acc, x) => acc + x) * (hi - lo) / lit(Steps.toDouble)
    val tau = lit(targetTau)
    val withRaw = cand
      .withColumn("t_raw",
        lit(1e6) * pow(lit(1.0) / $"bands", lit(1.0) / $"rows_per_band"))
      .withColumn("fp_raw", lit(1e6) * integral(
        transform(midpoints(lit(0.0), tau), s => pCollide(s, $"bands", $"rows_per_band")),
        lit(0.0), tau))
      // 1 − P(s) computed DIRECTLY as (1 − s^r)^b: algebraically equal
      // to 1 − pCollide but bit-identical to the oracle's form (the
      // 1 − (1 − x) double round-trip is not an identity for tiny x)
      .withColumn("fn_raw", lit(1e6) * integral(
        transform(midpoints(tau, lit(1.0)),
          s => pow(lit(1.0) - pow(s, $"rows_per_band".cast("double")),
                   $"bands".cast("double"))),
        tau, lit(1.0)))
    // POW-PARITY GUARD (fail-fast): the hash gate needs floor() of
    // these values to agree across JVM Math.pow and DuckDB's libm
    // std::pow, which are only guaranteed faithful to ~1 ulp each. A
    // flip is possible only when a pre-floor value sits within the
    // accumulated cross-libm error of an integer boundary; the worst
    // case here is ≲ 1e6 · Steps · ulp(1) ≈ 4e-8. Requiring every
    // fractional part to keep 1e-3 clearance (25,000× margin) makes a
    // 1-ulp pow divergence unable to change ANY output row — the ln
    // parity discipline (p59) extended to pow, verified in-query on
    // exactly the values the gate quantizes.
    def fracDist(c: Column): Column = {
      val f = c - floor(c)
      least(f, lit(1.0) - f)
    }
    // Two boundary-adjacent classes are SAFE and exempted:
    //  - EXACT integers (fracDist == 0): here these arise only from
    //    exact-arithmetic pow cases — pow(1,y)=1 and pow(x,1)=x
    //    (ISO-mandated exact) and pow(2^-4, 1/4)=0.5 whose true value
    //    is exactly representable (verified equal on both libms:
    //    DuckDB probe = 0.5 exactly, and 12 rounds of green t_micro
    //    hashes pin the JVM side at exactly 500000);
    //  - TINY positives (raw ≤ 1e-3, e.g. the vanishing FN masses of
    //    wide-band splits): libm error is multiplicative, so a
    //    positive value stays positive on both engines and floors to
    //    0 regardless of the ulp.
    def unsafe(c: Column): Column =
      fracDist(c) <= 1e-3 && fracDist(c) =!= 0.0 && c > lit(1e-3)
    val nUnsafe = withRaw.agg(sum(
      when(unsafe($"t_raw") || unsafe($"fp_raw") || unsafe($"fn_raw"), 1L).otherwise(0L)))
      .head().getLong(0)
    require(nUnsafe == 0L,
      s"p2b pow-parity guard: $nUnsafe quantization input(s) sit within 1e-3 of an " +
      "integer boundary — a cross-libm pow ulp could flip floor(); adjust Steps or the scale")
    val withInts = withRaw
      .withColumn("t_micro", floor($"t_raw").cast("long"))
      .withColumn("fp_micro", floor($"fp_raw").cast("long"))
      .withColumn("fn_micro", floor($"fn_raw").cast("long"))
      .withColumn("err_micro", $"fp_micro" + $"fn_micro")
    val best = withInts.agg(min($"err_micro")).head().getLong(0)
    withInts
      .withColumn("tau_micro", lit((targetTau * 1e6).toLong))
      .withColumn("chosen", $"err_micro" === lit(best))
      .select($"bands".cast("long"), $"rows_per_band".cast("long"),
        $"tau_micro", $"t_micro", $"fp_micro", $"fn_micro", $"err_micro", $"chosen")
      .orderBy($"bands")
  }

  /** The chosen split for a target τ — what callers feed into
    * [[MinHashDedup.verifiedPairsByHashed]]. */
  private[graft] def chosenSplit(spark: SparkSession, targetTau: Double): (Int, Int) = {
    val r = tuningTable(spark, targetTau).filter(col("chosen")).head()
    (r.getAs[Long]("bands").toInt, r.getAs[Long]("rows_per_band").toInt)
  }

  /** DuckDB replay: same candidates, same midpoint sums, same argmin. */
  val oracleSql: String = {
    val candList = candidates().map { case (b, r) => s"($b, $r)" }.mkString(", ")
    s"""WITH cand AS (SELECT * FROM (VALUES $candList) c(bands, rows_per_band)),
       tau AS (SELECT 0.8 AS t),
       ints AS (
         SELECT bands, rows_per_band,
           CAST(floor(1e6 * pow(1.0 / bands, 1.0 / rows_per_band)) AS BIGINT) AS t_micro,
           CAST(floor(1e6 * list_reduce(
             [1.0 - pow(1.0 - pow((tau.t) * (i + 0.5) / $Steps, rows_per_band), bands)
              for i in range(0, $Steps)], (a, x) -> a + x) * tau.t / $Steps) AS BIGINT) AS fp_micro,
           CAST(floor(1e6 * list_reduce(
             [pow(1.0 - pow(tau.t + (1.0 - tau.t) * (i + 0.5) / $Steps, rows_per_band), bands)
              for i in range(0, $Steps)], (a, x) -> a + x) * (1.0 - tau.t) / $Steps) AS BIGINT) AS fn_micro
         FROM cand, tau),
       scored AS (
         SELECT *, fp_micro + fn_micro AS err_micro FROM ints)
       SELECT CAST(bands AS BIGINT) AS bands,
              CAST(rows_per_band AS BIGINT) AS rows_per_band,
              CAST(800000 AS BIGINT) AS tau_micro,
              t_micro, fp_micro, fn_micro, err_micro,
              (err_micro = (SELECT min(err_micro) FROM scored)) AS chosen
       FROM scored ORDER BY bands"""
  }

  // p2b: the banding tuner's integrals + argmin replayed bit-exactly
  def specs: Seq[QuerySpec] = Seq(QuerySpec("p2b_lsh_tuning", query, Some(oracleSql)))
}
