package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}

/** §2.2 R41 (q43): graph centrality — fixed-iteration PageRank over the
  * customer–supplier interaction graph (who-trades-with-whom, from
  * orders ⋈ lineitem). The data-curation analog is domain/source
  * authority weighting: rank sources by their position in a citation or
  * interaction graph and feed the score into mixture weights.
  *
  * Spark shape (100 TB): the graph lives as an edge DataFrame with LONG
  * node ids (customer c → 2c, supplier s → 2s+1; strings are rendered
  * only at output) — at the 100× decade the string-keyed edge list made
  * every join/shuffle pay ~2× width plus string hashing/compares
  * (measured: 117M string edges, q43 68.6s → 23.5s after this rewrite).
  * Edges are repartitioned by src ONCE and cached, so every iteration
  * reuses that co-partitioning: the per-iteration work is one
  * vertex-sized message build (pr ⋈ deg — the quantized contribution is
  * computed per NODE, identical for all of a node's out-edges, never
  * per edge), one join that shuffles ONLY the message table, and one
  * vertex-keyed aggregation with map-side combine. No driver-side state
  * beyond the vertex count.
  *
  * Determinism (hash-gate): per-edge contributions are floor-quantized
  * to integer picounits (×1e12, the p29/p34 pattern), so the per-vertex
  * sum is an order-independent integer sum and the fixed-point result is
  * bit-identical under any partitioning — and exactly replayable in
  * DuckDB with three chained CTEs.
  */
object PageRank {

  private val Damping = 0.85
  private val Iters   = 3

  /** Render a long node id back to the public "c:<id>"/"s:<id>" form. */
  def nodeStr(node: Column): Column =
    when(node % 2 === 0, concat(lit("c:"), (node / 2).cast("long").cast("string")))
      .otherwise(concat(lit("s:"), ((node - 1) / 2).cast("long").cast("string")))

  /** Fixed-`iters` PageRank on a directed edge list (src, dst) — run on
    * the symmetrized bipartite graph here. Returns (node, pr).
    *
    * `maxBroadcastNodes` is the vertex-count cutoff between the two
    * physical paths below — see [[GraphBroadcast.MaxBroadcastNodes]]
    * for the heap-derived default and the ~16 B/row sizing.
    *
    * Two physical paths, picked by vertex count:
    *  - **broadcast (default up to ~10M nodes)**: the per-iteration
    *    message table is VERTEX-sized (node → quantized contribution),
    *    orders of magnitude smaller than the edge list — broadcast it
    *    and stream the edges straight out of parquet each iteration.
    *    Per iteration that is one columnar edge scan + one map-side
    *    broadcast join + one vertex-keyed aggregation, zero edge-sized
    *    shuffles and zero cache residency. (The r7 repartition+persist+
    *    eager-checkpoint shape paid 29–45s at sf0.1 in cold JVMs —
    *    cache build, per-iteration edge sorts and three checkpoint
    *    barriers — vs 3–5s for this shape, A/B'd.)
    *  - **shuffle (beyond 10M nodes)**: a billion-node graph's message
    *    table no longer broadcasts; co-partition the edges by src once,
    *    persist, and let every iteration shuffle only the vertex-sized
    *    message table against that layout.
    */
  def ranks(edges: DataFrame, iters: Int = Iters,
            maxBroadcastNodes: Long = GraphBroadcast.MaxBroadcastNodes): DataFrame = {
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    Materialize.scoped(deg) {
      val n = deg.count()
      // broadcast path: cache the edges WITHOUT repartitioning — the
      // broadcast join needs no co-partitioning, but each iteration
      // re-reading the edge parquet pays the columnar decode again (at
      // the 100× decade, 100M symmetrized edge rows, the rescan shape
      // measured ~105s for 3 iterations vs ~30s with the edges resident;
      // the r7 lesson stands for the parts this still avoids: no
      // repartition shuffle, no per-iteration checkpoints — those, not
      // the cache, were the cold-JVM cost at sf0.1). Shuffle path:
      // co-partition the edges by src once.
      val broadcastMsgs = n <= maxBroadcastNodes
      val e = if (broadcastMsgs) edges else edges.repartition(col("src"))
      Materialize.scoped(e) {
        var pr = deg.select(col("node"), (lit(1.0) / lit(n)).as("pr"))
        for (_ <- 1 to iters) {
          // the quantized contribution is a per-NODE value (identical for
          // all out-edges of a node): build it on the vertex table, then
          // fan it out over the edges (via broadcast on that path)
          val msg = pr.join(deg, Seq("node"))
            .select(col("node").as("src"),
              floor((col("pr") / col("outdeg")) * lit(1e12)).cast("long").as("c"))
          pr = e.join(if (broadcastMsgs) broadcast(msg) else msg, Seq("src"))
            .groupBy(col("dst").as("node"))
            .agg(sum("c").as("s"))
            .select(col("node"),
              (lit(0.15) / lit(n) +
                lit(Damping) * (col("s").cast("double") / lit(1e12))).as("pr"))
        }
        // materialize the (vertex-sized) result so the caches can be
        // released; also keeps the caller's plan flat (iters-deep
        // nesting stays here)
        Materialize(pr)
      }
    }
  }

  /** Symmetrized customer–supplier interaction edge list (who-trades-
    * with-whom, from orders ⋈ lineitem), LONG-encoded — shared by q43
    * (PageRank) and q44 (reachability). Derived ONCE per (process, dir)
    * into a persisted parquet artifact: the derivation is an
    * orders ⋈ lineitem distinct — the most expensive part of both graph
    * queries — and at 100 TB a graph edge table is exactly the kind of
    * intermediate you materialize once and share. */
  def csEdges(spark: SparkSession, dir: String): DataFrame = {
    // the artifact stores only the DIRECTED distinct half: building the
    // symmetrized table would run the join+distinct once per union
    // branch and write 2× the rows — symmetrizing at read is two cheap
    // columnar scans of the persisted parquet instead
    val cs = graft.ProcessArtifacts.table(spark, "cs_edges_dir", dir) {
      deriveCsEdgesDirected(spark, dir)
    }
    cs.union(cs.select(col("dst").as("src"), col("src").as("dst")))
  }

  private[graft] def deriveCsEdgesDirected(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    orders.join(lineitem, $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
      .distinct()
  }

  /** q43: 3-iteration PageRank over the symmetrized customer–supplier
    * graph; every node has degree ≥ 1 by construction (nodes are defined
    * by edges), so there is no dangling-mass term. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ranks(csEdges(spark, dir))
      .select(nodeStr($"node").as("node"), round($"pr", 9).as("pr"))
      .orderBy($"node")
  }

  val oracleSql: String =
    """WITH e0 AS (
         SELECT DISTINCT 'c:' || o.o_custkey AS src, 's:' || l.l_suppkey AS dst
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       bi AS (SELECT src, dst FROM e0
              UNION ALL SELECT dst AS src, src AS dst FROM e0),
       deg AS (SELECT src AS node, count(*) AS outdeg FROM bi GROUP BY 1),
       nn AS (SELECT count(*) AS n FROM deg),
       pr0 AS (SELECT node, 1.0 / nn.n AS pr FROM deg, nn),
       pr1 AS (
         SELECT b.dst AS node,
           0.15 / any_value(nn.n) + 0.85 *
             (CAST(sum(CAST(floor((p.pr / d.outdeg) * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) AS pr
         FROM bi b JOIN pr0 p ON b.src = p.node
                   JOIN deg d ON b.src = d.node
                   CROSS JOIN nn GROUP BY 1),
       pr2 AS (
         SELECT b.dst AS node,
           0.15 / any_value(nn.n) + 0.85 *
             (CAST(sum(CAST(floor((p.pr / d.outdeg) * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) AS pr
         FROM bi b JOIN pr1 p ON b.src = p.node
                   JOIN deg d ON b.src = d.node
                   CROSS JOIN nn GROUP BY 1),
       pr3 AS (
         SELECT b.dst AS node,
           0.15 / any_value(nn.n) + 0.85 *
             (CAST(sum(CAST(floor((p.pr / d.outdeg) * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) AS pr
         FROM bi b JOIN pr2 p ON b.src = p.node
                   JOIN deg d ON b.src = d.node
                   CROSS JOIN nn GROUP BY 1)
       SELECT node, round(pr, 9) AS pr FROM pr3 ORDER BY node"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("q43_pagerank", query, Some(oracleSql)))
}
