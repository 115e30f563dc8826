package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}

/** §2.3 P52: domain MIXTURE PLANNING — the step before p20's mixture
  * resampling: given per-source token inventories and target domain
  * weights, compute the per-source sampling RATES that hit a total
  * token budget in the target proportions (the Llama/Dolma/Pile
  * "data recipe" calculation). Planning is an inventory-sized
  * computation: one corpus aggregation collapses to a
  * source-count-sized table, and everything after is tiny-table
  * algebra — at 100 TB the plan costs one map-side-combinable pass,
  * and its OUTPUT (rate per source) drives p20's row-local
  * content-addressed sampling.
  *
  * Rates are capped at 1 (no upsampling in this planner — a source
  * smaller than its target allocation contributes everything it has,
  * the standard single-epoch recipe); all arithmetic is integer-micro
  * (rate = ⌊10⁶·B·w / (W·T)⌋ via long division), so the plan record is
  * bit-identical in both engines. Target weights are planted
  * content-addressed (1 + md5-bucket % 4), the p16/p21 pattern.
  */
object MixturePlanner {

  /** p52: plan a budget of half the corpus tokens across md5-planted
    * domain weights; one record per source. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val inv = Tables.documents(spark, dir)
      .select($"source", size(split($"text", "\\s+")).cast("long").as("t"))
      .groupBy($"source")
      .agg(sum($"t").as("n_tokens"), count(lit(1)).as("n_docs"))
      .withColumn("weight",
        lit(1L) + conv(substring(md5(concat(lit("mix:"), $"source")), 1, 8), 16, 10)
          .cast("long") % 4)
    // totals: the inventory is source-count-sized, so the cross join is
    // a broadcast of one row against a tiny table
    val tot = inv.agg(sum($"n_tokens").as("total_tokens"),
                      sum($"weight").as("w_total"))
    Materialize(inv.crossJoin(broadcast(tot))
      .withColumn("budget", expr("total_tokens div 2"))
      // overflow guard folded INTO rate_micro (a separate unselected
      // check column would be pruned by Catalyst): 10⁶·budget·weight is
      // long arithmetic; past budget·weight > Long.Max/10⁶ (~9.2e12
      // token-weight units, a multi-trillion-token budget) Spark would
      // wrap silently while DuckDB promotes to HUGEINT — a cross-engine
      // mismatch instead of an error. Fail loudly at the boundary; a
      // planner for budgets beyond it should move to DECIMAL(38).
      // The DENOMINATOR w_total*n_tokens can wrap too (w_total grows
      // with source count: past ~5e5 total weight a near-boundary
      // n_tokens overflows), so both products are guarded.
      .withColumn("rate_micro",
        when(($"budget" > lit(Long.MaxValue / 1000000L) / $"weight")
          .or($"n_tokens" > lit(Long.MaxValue) / $"w_total"),
          raise_error(concat(lit("p52 mixture planner: budget*weight overflows "),
            lit("integer-micro arithmetic for source "), $"source")).cast("long"))
        .otherwise(least(lit(1000000L),
          expr("(1000000 * budget * weight) div (w_total * n_tokens)"))))
      .withColumn("expected_tokens", expr("(n_tokens * rate_micro) div 1000000"))
      .select($"source", $"n_docs", $"n_tokens", $"weight",
        $"rate_micro", $"expected_tokens")
      .orderBy($"source"))
  }

  val oracleSql: String =
    """WITH inv AS (
         SELECT source,
           CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS n_tokens,
           count(*) AS n_docs,
           1 + CAST(('0x' || substring(md5('mix:' || source), 1, 8)) AS BIGINT) % 4 AS weight
         FROM documents
         GROUP BY source),
       tot AS (
         SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                CAST(sum(weight) AS BIGINT) AS w_total
         FROM inv)
       SELECT source, n_docs, n_tokens, CAST(weight AS BIGINT) AS weight,
         CAST(least(1000000,
           (1000000 * (total_tokens // 2) * weight) // (w_total * n_tokens))
           AS BIGINT) AS rate_micro,
         CAST((n_tokens * least(1000000,
           (1000000 * (total_tokens // 2) * weight) // (w_total * n_tokens)))
           // 1000000 AS BIGINT) AS expected_tokens
       FROM inv CROSS JOIN tot
       ORDER BY source"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p52_mixture_plan", query, Some(oracleSql)))
}
