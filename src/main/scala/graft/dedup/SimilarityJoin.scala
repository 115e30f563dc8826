package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}

/** §2.3 P26: bipartite LSH similarity JOIN — `left ⋈_{J(text)≥τ} right`
  * across two different tables, the production "fuzzy join" (match a new
  * batch against a curated corpus, join scraped pages to canonical
  * articles, link near-identical records across feeds). Self-dedup (P2)
  * answers "which docs in THIS corpus duplicate each other"; this
  * answers "which rows of A match rows of B" without ever pairing A×A
  * or B×B.
  *
  * Same fused shingle-hash → minhash-band machinery as P2, but the
  * bucket aggregation carries a side tag and expands only CROSS-side
  * pairs: a bucket with l left-rows and r right-rows emits l·r
  * candidates (not (l+r)²/2), and per-side caps bound skew the same way
  * P2's single cap does. Verification is the exact merge-intersect
  * Jaccard on the hashed shingle sets — candidates are a superset of
  * true pairs (banding recall), output exactly the true pairs.
  *
  * Scale shape: one shuffle for the tagged bucket aggregation on narrow
  * (id, band) rows; the fat shingle sets join back by id afterwards
  * (merge-hinted — see MinHashDedup.candidatePairsByHashed for why they
  * must never broadcast).
  */
object SimilarityJoin {

  /** Near-dup pairs (lid, rid, jaccard) between `left` and `right`.
    * Ids need not be disjoint across sides — sides are kept apart by
    * construction, and a row appearing in both tables simply matches
    * itself at J = 1. */
  def similarPairs(left: DataFrame, right: DataFrame,
                   idCol: String, textCol: String,
                   threshold: Double = 0.8, k: Int = 3,
                   maxBucketSize: Int = MinHashDedup.DefaultMaxBucketSize): DataFrame = {
    val np = left.sparkSession.sparkContext.defaultParallelism * 2
    def hashed(df: DataFrame): DataFrame = df
      .select(col(idCol).as("id"),
        graft.functions.HashFunctions.token_shingle_hashes(col(textCol), k).as("sh"))
      .repartition(np, col("id"))
    val lh = hashed(left)
    val rh = hashed(right)
    Materialize.scoped(lh, rh) {
      def banded(h: DataFrame, side: Int): DataFrame = h
        .select(col("id"), lit(side).as("side"),
          posexplode(MinHashDedup.bandKeys(col("sh"))))
        .select(col("id"), col("side"), col("pos").as("band_idx"), col("col").as("band_key"))
      // ONE bucket aggregation over both sides; collect_list skips the
      // nulls of the other side, so each bucket row holds the two member
      // lists and the cross expansion happens inside it — no self-join of
      // the banded rows, no same-side pairs ever materialize
      val pairs = banded(lh, 0).union(banded(rh, 1))
        .groupBy("band_idx", "band_key")
        .agg(collect_list(when(col("side") === 0, col("id"))).as("lids"),
             collect_list(when(col("side") === 1, col("id"))).as("rids"))
        .filter(size(col("lids")).between(1, maxBucketSize) &&
                size(col("rids")).between(1, maxBucketSize))
        .select(explode(col("lids")).as("lid"), col("rids"))
        .select(col("lid"), explode(col("rids")).as("rid"))
        .dropDuplicates("lid", "rid")
      Materialize(pairs
        .join(lh.select(col("id").as("lid"), col("sh").as("sh_l")).hint("merge"), Seq("lid"))
        .join(rh.select(col("id").as("rid"), col("sh").as("sh_r")).hint("merge"), Seq("rid"))
        .withColumn("jaccard", round(MinHashDedup.jaccardSorted(col("sh_l"), col("sh_r")), 6))
        .filter(col("jaccard") >= threshold)
        .select("lid", "rid", "jaccard"))
    }
  }

  /** p26: similarity-join the even-id documents against the odd-id
    * documents at τ=0.8 — a deterministic bipartite split with planted
    * cross-side near-dups at every SF. Oracle-checked: DuckDB
    * brute-forces the exact cross-side all-pairs Jaccard; banding recall
    * 1.0 on these corpora (validated like P2) makes the LSH result
    * hash-exact. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    similarPairs(docs.filter($"doc_id" % 2 === 0),
                 docs.filter($"doc_id" % 2 === 1),
                 "doc_id", "text", 0.8)
      .orderBy($"lid", $"rid")
  }

  /** DuckDB oracle: exact cross-parity all-pairs token-shingle Jaccard
    * (P2's shingle CTE with the even/odd split). */
  val oracleSql: String =
    """WITH sh AS (
         SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ')
                          for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS s
         FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents))
       SELECT lid, rid, round(jc, 6) AS jaccard FROM (
         SELECT a.doc_id AS lid, b.doc_id AS rid,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jc
         FROM sh a, sh b
         WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1) t
       WHERE jc >= 0.8
       ORDER BY lid, rid"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p26_sim_join", query, Some(oracleSql)))
}
