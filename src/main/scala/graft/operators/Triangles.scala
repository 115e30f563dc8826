package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec}

/** §2.2 R43 (q46): distributed TRIANGLE COUNTING + local clustering
  * coefficients — the standard graph-structure statistic (community
  * density, spam/boilerplate ring detection). Run over the near-dup
  * similarity graph (the shared p2 verified-pairs artifact): a triangle
  * there is a mutually-similar document triple, the structure SemDeDup /
  * near-dup clustering exploit; the clustering coefficient separates
  * tight dup-rings (cc = 1) from hub-like template overlap (cc ≈ 0).
  *
  * Algorithm (Suri & Vassilvitskii, WWW'11 — "Counting triangles and
  * the curse of the last reducer"): orient every undirected edge from
  * the (degree, id)-SMALLER endpoint to the larger; each triangle then
  * has exactly ONE node with two out-edges, so wedges generated per
  * node are bounded by its ORIENTED out-degree, O(√m) — a celebrity
  * node with degree 10⁶ generates no wedges at all (its edges all point
  * INTO it). Total wedge work is O(m^{3/2}) worst-case instead of
  * Σ deg² — the difference between a last-reducer stall and an even
  * shuffle at 100 TB.
  *
  * Spark shape: two equi-joins (wedge build keyed on the pivot node,
  * closure keyed on the (v,w) edge pair) + one exploded per-node
  * aggregation; everything is long ids and integer counts —
  * deterministic under any partitioning, no quantization needed.
  */
object Triangles {

  /** Per-node (id, degree, n_triangles, cc_micro) for an undirected
    * simple edge list (a, b) with a < b, distinct. cc_micro =
    * ⌊2·10⁶·tri / (deg·(deg−1))⌋ via exact integer division (DuckDB
    * `//` ≡ Spark `div` — no float in the gate). */
  def triangleCounts(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val e = edges.select($"a".cast("long").as("a"), $"b".cast("long").as("b"))
    val deg = Materialize(e.select($"a".as("id")).union(e.select($"b".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("deg")))
    // orient each edge toward the (degree, id)-larger endpoint; carry
    // the destination's order key so the wedge join can order its two
    // legs without another degree lookup
    val ann = e
      .join(deg.select($"id".as("a"), $"deg".as("da")), Seq("a"))
      .join(deg.select($"id".as("b"), $"deg".as("db")), Seq("b"))
    val oe = ann.select(
        when($"da" < $"db" || ($"da" === $"db" && $"a" < $"b"), struct($"a".as("u"), $"b".as("v"), $"db".as("dv")))
          .otherwise(struct($"b".as("u"), $"a".as("v"), $"da".as("dv"))).as("o"))
      .select($"o.u".as("u"), $"o.v".as("v"), $"o.dv".as("dv"))
    Materialize.scoped(oe) {
      // wedges at each pivot u: out-neighbor pairs (v, w), v before w in
      // orientation order — the join is equi-keyed on u; the order filter
      // halves the pairs and fixes each wedge's canonical form
      val wedges = oe.select($"u", $"v".as("x"), $"dv".as("dx"))
        .join(oe.select($"u", $"v".as("y"), $"dv".as("dy")), Seq("u"))
        .filter($"dx" < $"dy" || ($"dx" === $"dy" && $"x" < $"y"))
      // close the wedge: (x, y) must itself be an oriented edge — x is
      // orientation-before y, so only (x → y) can exist
      val tri = wedges
        .join(oe.select($"u".as("x"), $"v".as("y")), Seq("x", "y"))
        .select($"u", $"x", $"y")
      val perNode = tri
        .select(explode(array($"u", $"x", $"y")).as("id"))
        .groupBy($"id").agg(count(lit(1)).as("n_triangles"))
      Materialize(deg.join(perNode, Seq("id"), "left")
        .select($"id", $"deg",
          coalesce($"n_triangles", lit(0L)).as("n_triangles"))
        .withColumn("cc_micro",
          when($"deg" < 2, lit(0L)).otherwise(
            expr("(2000000 * n_triangles) div (deg * (deg - 1))"))))
    }
  }

  /** q46: triangle census of the near-dup similarity graph — reads the
    * run's shared verified-pairs artifact (p2/p14/p25's), so the LSH
    * pipeline still executes once per run. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = graft.dedup.DedupClusters.pairsTable(spark, dir)
      .select($"id_a".as("a"), $"id_b".as("b"))
    triangleCounts(pairs)
      .select($"id".as("doc_id"), $"deg".as("degree"), $"n_triangles", $"cc_micro")
      .orderBy($"doc_id")
  }

  /** DuckDB replay: p2's exact brute-force pair graph, the same
    * (degree, id) orientation, wedge join and closure. */
  val oracleSql: String =
    """WITH sh AS (
         SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ')
                          for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS s
         FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents)),
       pairs AS (
         SELECT a.doc_id AS a, b.doc_id AS b
         FROM sh a, sh b
         WHERE a.doc_id < b.doc_id
           AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
       deg AS (
         SELECT id, count(*) AS deg FROM (
           SELECT a AS id FROM pairs UNION ALL SELECT b FROM pairs)
         GROUP BY id),
       oe AS (
         SELECT CASE WHEN (da.deg, p.a) < (db.deg, p.b) THEN p.a ELSE p.b END AS u,
                CASE WHEN (da.deg, p.a) < (db.deg, p.b) THEN p.b ELSE p.a END AS v,
                CASE WHEN (da.deg, p.a) < (db.deg, p.b) THEN db.deg ELSE da.deg END AS dv
         FROM pairs p
         JOIN deg da ON da.id = p.a
         JOIN deg db ON db.id = p.b),
       tri AS (
         SELECT o1.u, o1.v AS x, o2.v AS y
         FROM oe o1
         JOIN oe o2 ON o1.u = o2.u AND (o1.dv, o1.v) < (o2.dv, o2.v)
         JOIN oe o3 ON o3.u = o1.v AND o3.v = o2.v),
       pernode AS (
         SELECT id, count(*) AS n_triangles FROM (
           SELECT u AS id FROM tri
           UNION ALL SELECT x FROM tri
           UNION ALL SELECT y FROM tri)
         GROUP BY id)
       SELECT deg.id AS doc_id,
         CAST(deg.deg AS BIGINT) AS degree,
         CAST(coalesce(pernode.n_triangles, 0) AS BIGINT) AS n_triangles,
         CAST(CASE WHEN deg.deg < 2 THEN 0
           ELSE (2000000 * coalesce(pernode.n_triangles, 0)) // (deg.deg * (deg.deg - 1))
           END AS BIGINT) AS cc_micro
       FROM deg LEFT JOIN pernode ON pernode.id = deg.id
       ORDER BY doc_id"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("q46_triangles", query, Some(oracleSql)))
}
