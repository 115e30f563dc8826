package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}

/** §2.2 R48 (q51): single-source shortest paths — iterated min-plus
  * relaxations (distributed Bellman–Ford with a semi-naive frontier)
  * over the WEIGHTED customer–supplier graph. The last classical graph
  * member next to q43 (PageRank) / q44 (reachability) / q46 (triangles);
  * the curation analog is crawl-depth / link-distance weighting: distance
  * from a trusted seed set where strong trade links are short edges, fed
  * into source-quality scores the way q43's authority feeds mixture
  * weights.
  *
  * Edge weights are INTEGER link distances derived from trade intensity:
  * w = max(1, 10 − n_distinct_orders(customer, supplier)) — a pair that
  * trades often is "close". Integer weights make every relaxation an
  * exact long-arithmetic min-plus step, so the fixed point is
  * bit-deterministic under any partitioning (no quantization step is
  * even needed, unlike q43's floor-picounit trick) and DuckDB replays it
  * as unrolled min-plus CTEs.
  *
  * Spark shape (100 TB): semi-naive evaluation — per round, the edge
  * list joins ONLY the frontier (nodes whose distance improved last
  * round), candidates min-reduce per node with map-side combine, and an
  * improvement join against the settled table keeps the delta. Frontier
  * and distance tables are VERTEX-sized; the weighted edge artifact is
  * derived once and persisted (the q43/q44 csEdges pattern). While the
  * vertex tables fit [[GraphBroadcast.MaxBroadcastNodes]] they ride as
  * broadcast joins against a straight columnar edge scan — zero
  * edge-sized shuffles; past the cutoff the same loop shuffles the
  * vertex-sized tables against a src-co-partitioned edge layout (both
  * branches spec-pinned bit-identical, the q43/q44 discipline). The
  * frontier DRAINS as distances settle, so late rounds are
  * near-free — the loop exits when it is empty.
  *
  * Rounds are capped at [[MaxRounds]] = 8: round r yields the exact
  * shortest distance over paths of ≤ r edges, and the cap makes the
  * computation DuckDB-replayable as 8 unrolled CTEs. On this bipartite
  * trade graph the frontier drains well before 8 (measured: empty at
  * round 5 at sf0.01) — and when the loop exits early, d_converged =
  * d_8, so Spark's early exit and the oracle's full unroll agree by
  * construction. On a graph whose weighted diameter exceeds the cap,
  * raise `maxRounds` (the loop is the fixpoint algorithm; the cap is an
  * oracle-replay bound, not an algorithmic limit).
  */
object Sssp {

  val MaxRounds = 8

  /** Bounded-round SSSP: (node, dist) for every node reachable from
    * `seeds` within `maxRounds` min-plus relaxations (seeds at dist 0,
    * including seeds absent from the edge list). `edges` is a directed
    * (src, dst, w) list with LONG integer weights ≥ 0. */
  def shortestPaths(edges: DataFrame, seeds: DataFrame, maxRounds: Int = MaxRounds,
                    maxBroadcastNodes: Long = GraphBroadcast.MaxBroadcastNodes): DataFrame = {
    def hinted(df: DataFrame, rows: Long): DataFrame =
      if (rows <= maxBroadcastNodes) broadcast(df) else df
    var dist = Materialize(seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L)))
    var nDist = dist.count()
    var frontier = dist
    var nFrontier = nDist
    for (_ <- 1 to maxRounds if nFrontier > 0) {
      // min-plus candidates from the frontier only (semi-naive: a node's
      // distance can only improve via a neighbor that itself improved)
      val cand = edges
        .join(hinted(frontier.select(col("node").as("src"), col("dist").as("d")),
          nFrontier), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(min(col("d") + col("w")).as("nd"))
      // keep the strict improvements — next round's frontier
      val improved = Materialize(cand // vertex-sized delta; keeps lineage flat
        .join(hinted(dist.withColumnRenamed("dist", "old"), nDist), Seq("node"), "left")
        .filter(col("old").isNull || col("nd") < col("old"))
        .select(col("node"), col("nd").as("dist")))
      nFrontier = improved.count()
      if (nFrontier > 0) {
        dist = Materialize(dist.join(improved.select("node"), Seq("node"), "left_anti")
          .union(improved))
        nDist = dist.count()
        frontier = improved
      }
    }
    dist
  }

  /** Weighted directed half of the customer–supplier graph, LONG node
    * encoding (c → 2c, s → 2s+1), derived once per (process, dir) and
    * persisted (the csEdges pattern — the orders ⋈ lineitem aggregation
    * is the expensive part). Symmetrized at read: trade links are
    * undirected, so each directed half carries the same weight. */
  def weightedEdges(spark: SparkSession, dir: String): DataFrame = {
    val half = graft.ProcessArtifacts.table(spark, "cs_edges_w_dir", dir) {
      deriveWeightedEdgesDirected(spark, dir)
    }
    half.union(half.select(col("dst").as("src"), col("src").as("dst"), col("w")))
  }

  private[graft] def deriveWeightedEdgesDirected(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .groupBy(($"o_custkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
      .agg(countDistinct($"o_orderkey").as("nt"))
      .select($"src", $"dst", greatest(lit(1L), lit(10L) - $"nt").as("w"))
  }

  /** q51: shortest weighted distance from the q44 seed set (customers
    * with custkey ≡ 0 mod 25) to every node within MaxRounds edges. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seeds = Tables.customer(spark, dir)
      .filter($"c_custkey" % 25 === 0)
      .select(($"c_custkey" * 2).as("node"))
    shortestPaths(weightedEdges(spark, dir), seeds)
      .select(PageRank.nodeStr($"node").as("node"), $"dist")
      .orderBy($"node")
  }

  /** DuckDB oracle: the same min-plus relaxation unrolled MaxRounds
    * times over the string-keyed graph (d_r = min(d_{r−1},
    * relax(d_{r−1})) — the full Bellman–Ford form, which the semi-naive
    * loop provably equals round for round). */
  val oracleSql: String = {
    val rounds = (1 to MaxRounds).map { r =>
      s"""d$r AS (SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d${r - 1}
            UNION ALL
            SELECT b.dst AS node, p.dist + b.w AS dist
            FROM bi b JOIN d${r - 1} p ON b.src = p.node) u GROUP BY node)"""
    }.mkString(",\n       ")
    s"""WITH e0 AS (
         SELECT 'c:' || o.o_custkey AS src, 's:' || l.l_suppkey AS dst,
                greatest(1, 10 - count(DISTINCT o.o_orderkey)) AS w
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         GROUP BY 1, 2),
       bi AS (SELECT src, dst, w FROM e0
              UNION ALL SELECT dst AS src, src AS dst, w FROM e0),
       d0 AS (SELECT DISTINCT 'c:' || c_custkey AS node, CAST(0 AS BIGINT) AS dist
              FROM customer WHERE c_custkey % 25 = 0),
       $rounds
       SELECT node, dist FROM d$MaxRounds ORDER BY node"""
  }

  def specs: Seq[QuerySpec] = Seq(QuerySpec("q51_sssp", query, Some(oracleSql)))
}
