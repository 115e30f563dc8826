package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.2 R43 (q45): COUNT-MIN SKETCH — the mergeable frequency sketch
  * that completes the sketch family (HLL distinct q21, Misra–Gries
  * heavy hitters q39, KLL-class percentiles q29): answer "how often did
  * key k occur" over an unbounded stream/corpus in O(d·w) space with a
  * one-sided error guarantee (est ≥ exact, est ≤ exact + εN w.h.p.).
  *
  * Spark shape: the sketch IS a (seed, col) → count table built by ONE
  * keyed integer aggregation (map-side combinable — each executor
  * pre-folds its partition's sketch, the shuffle carries ≤ d·w rows per
  * partition; the classical mergeability argument, identical to how the
  * sketch would merge across 1000 executors at 100 TB). Point queries
  * join the d probe cells against the d·w-row sketch (broadcast — the
  * sketch is CONSTANT-sized by construction) and take the min.
  *
  * Unlike q21/q29/q39 (self-validating approximate rows), this sketch
  * is FULLY hash-gated: construction uses the p16 md5-bucket idiom, so
  * DuckDB rebuilds the identical d×w table and replays every estimate —
  * the oracle certifies construction, probing, the min-combine, and the
  * one-sided guarantee (`sound` must be true on every row).
  */
object CountMin {

  val D = 4    // hash rows (seeds)
  val W = 64   // counters per row

  /** Cell index of `key` under `seed` — the p16 content-addressed
    * md5-bucket idiom, exactly replayable in SQL. */
  def cellOf(key: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(s"cms$seed:"), key.cast("string"))), 1, 8), 16, 10)
      .cast("long") % W

  private def cellsOf(key: Column): Column =
    explode(array((0 until D).map(s =>
      struct(lit(s).as("seed"), cellOf(key, s).as("c"))): _*))

  /** q45: sketch the events stream's per-user frequencies, then probe
    * the top-20 exact users (deterministic tie-break) and emit per-key
    * exact vs estimate with the one-sided-error verdict. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val users = Tables.events(spark, dir).select($"user_id")
    val sketch = users
      .select(cellsOf($"user_id").as("sc"))
      .select($"sc.seed".as("seed"), $"sc.c".as("c"))
      .groupBy($"seed", $"c")
      .agg(count(lit(1)).as("cnt"))
    val exact = users.groupBy($"user_id").agg(count(lit(1)).as("exact_cnt"))
    val probes = exact.orderBy($"exact_cnt".desc, $"user_id").limit(20)
    probes
      .select($"user_id", $"exact_cnt", cellsOf($"user_id").as("sc"))
      .select($"user_id", $"exact_cnt", $"sc.seed".as("seed"), $"sc.c".as("c"))
      .join(broadcast(sketch), Seq("seed", "c"))
      .groupBy($"user_id", $"exact_cnt")
      .agg(min($"cnt").as("cms_est"))
      .select($"user_id", $"exact_cnt", $"cms_est",
        ($"cms_est" - $"exact_cnt").as("overcount"),
        ($"cms_est" >= $"exact_cnt").as("sound"))
      .orderBy($"user_id")
  }

  /** DuckDB replay: rebuild the identical d×w sketch, probe the same
    * top-20 keys, min-combine. */
  val oracleSql: String =
    """WITH seeds AS (SELECT unnest([0, 1, 2, 3]) AS seed),
       cms AS (
         SELECT seed,
           CAST(('0x' || substring(md5('cms' || seed || ':' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS c,
           count(*) AS cnt
         FROM events, seeds
         GROUP BY 1, 2),
       exact AS (
         SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1),
       probes AS (
         SELECT user_id, exact_cnt FROM exact
         ORDER BY exact_cnt DESC, user_id LIMIT 20),
       cells AS (
         SELECT p.user_id, p.exact_cnt, s.seed,
           CAST(('0x' || substring(md5('cms' || s.seed || ':' || CAST(p.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS c
         FROM probes p, seeds s)
       SELECT cells.user_id, cells.exact_cnt,
         min(cms.cnt) AS cms_est,
         min(cms.cnt) - cells.exact_cnt AS overcount,
         min(cms.cnt) >= cells.exact_cnt AS sound
       FROM cells JOIN cms USING (seed, c)
       GROUP BY cells.user_id, cells.exact_cnt
       ORDER BY cells.user_id"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("q45_countmin", query, Some(oracleSql)))
}
