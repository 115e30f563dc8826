package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}

/** §2.2 R49 (q52): PERSONALIZED PageRank — random-walk-with-restart
  * centrality where teleports land on a SOURCE SET instead of uniformly
  * (Haveliwala's topic-sensitive PageRank). Next to q43's global
  * authority this is the curation tool for *seeded* relevance: rank the
  * whole graph by proximity to a trusted seed set (quality domains, a
  * topic's hub pages, verified suppliers) and feed the score into
  * mixture/dedup-keep decisions — the "harmonic centrality from seeds"
  * companion to q51's hop-distance-from-seeds.
  *
  * Semantics: pr₀ = t, pr_{k+1}(v) = 0.15·t(v) + 0.85·Σ_{u→v} pr_k(u)/
  * outdeg(u), where t(v) = 1/|S| on the seed set and 0 elsewhere.
  * With the q43 graph every node has outdegree ≥ 1 (nodes are defined
  * by edges), so there is no dangling-mass term and total mass stays 1
  * up to quantization.
  *
  * Spark shape (100 TB): identical to q43's two physical paths — the
  * per-iteration message table is VERTEX-sized and rides either as a
  * broadcast join against a persisted edge list (≤ cutoff) or as a
  * shuffled join against a src-co-partitioned layout (beyond it; both
  * branches spec-pinned bit-identical). One genuine PPR-only win over
  * the global walk: mass is zero outside the seed set's k-hop ball, and
  * nodes at pr = 0 are FILTERED from the message table — on a
  * billion-node graph with a small seed set, early iterations touch
  * only the neighborhood, not the graph (semi-naive, the q51 frontier
  * idea applied to a dense iteration). Dropping the zero rows is
  * exact, not approximate: a zero contribution adds 0 to every
  * integer sum it participates in.
  *
  * Determinism (hash-gate): per-node contributions floor-quantized to
  * integer picounits (the q43 pattern) make every per-vertex sum an
  * order-independent integer sum; the teleport term is a per-row
  * double expression from exact inputs. DuckDB replays the whole
  * computation as three chained CTEs.
  */
object Ppr {

  private val Damping = 0.85
  private val Iters   = 3

  /** The per-iteration message join + vertex re-aggregation — the ONE
    * production frame both physical branches share (broadcast hint vs
    * plain shuffled join on the co-partitioned edge list). Extracted so
    * PlanShapeSpec pins the plan of the frame the loop actually runs,
    * not a hand-rebuilt lookalike. */
  private[operators] def messageAgg(e: DataFrame, msg: DataFrame,
                                    useBroadcast: Boolean): DataFrame =
    e.join(if (useBroadcast) broadcast(msg) else msg, Seq("src"))
      .groupBy(col("dst").as("node"))
      .agg(sum("c").as("s"))

  /** Fixed-`iters` personalized PageRank on a directed edge list
    * (src, dst); `sources` is a (node) table — rows absent from the
    * graph are ignored (a teleport to a node with no edges would leak
    * mass out of the aggregation). Returns (node, pr) for every graph
    * node, zeros included (callers filter if they only want the ball). */
  def personalizedRanks(edges: DataFrame, sources: DataFrame, iters: Int = Iters,
                        maxBroadcastNodes: Long = GraphBroadcast.MaxBroadcastNodes): DataFrame = {
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val srcSet = deg.select(col("node"))
      .join(sources.select(col("node")).distinct(), Seq("node"))
    Materialize.scoped(deg, srcSet) {
      val nNodes = deg.count()
      val nSrc = srcSet.count()
      require(nSrc > 0, "personalized PageRank needs at least one seed present in the graph")
      // teleport vector: exact 1/|S| on seeds, 0 elsewhere — vertex-sized
      val tele = deg
        .join(srcSet.withColumn("hit", lit(1)), Seq("node"), "left")
        .select(col("node"), col("outdeg"),
          when(col("hit").isNotNull, lit(1.0) / lit(nSrc)).otherwise(lit(0.0)).as("t"))
      val useBroadcast = nNodes <= maxBroadcastNodes
      val e = if (useBroadcast) edges else edges.repartition(col("src"))
      Materialize.scoped(tele, e) {
        tele.count()
        var pr = tele.select(col("node"), col("t").as("pr"))
        for (_ <- 1 to iters) {
          // quantized per-NODE contribution; zero-mass nodes drop out of
          // the message table entirely (exact — they contribute 0)
          val msg = pr.filter(col("pr") > 0.0)
            .join(tele.select(col("node"), col("outdeg")), Seq("node"))
            .select(col("node").as("src"),
              floor((col("pr") / col("outdeg")) * lit(1e12)).cast("long").as("c"))
          val agg = messageAgg(e, msg, useBroadcast)
          pr = tele
            .join(agg, Seq("node"), "left")
            .select(col("node"),
              (lit(0.15) * col("t") +
                lit(Damping) * (coalesce(col("s"), lit(0L)).cast("double") / lit(1e12))).as("pr"))
        }
        Materialize(pr)
      }
    }
  }

  /** q52: 3-iteration personalized PageRank over the shared symmetrized
    * customer–supplier graph, seeded at BUILDING-segment customers —
    * "how close is every market participant to the building trade". */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seeds = Tables.customer(spark, dir)
      .filter($"c_mktsegment" === "BUILDING")
      .select(($"c_custkey" * 2).as("node"))
    personalizedRanks(PageRank.csEdges(spark, dir), seeds)
      .select(PageRank.nodeStr($"node").as("node"), round($"pr", 9).as("pr"))
      .orderBy($"node")
  }

  val oracleSql: String =
    """WITH e0 AS (
         SELECT DISTINCT 'c:' || o.o_custkey AS src, 's:' || l.l_suppkey AS dst
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       bi AS (SELECT src, dst FROM e0
              UNION ALL SELECT dst AS src, src AS dst FROM e0),
       deg AS (SELECT src AS node, count(*) AS outdeg FROM bi GROUP BY 1),
       srcs AS (
         SELECT d.node FROM deg d
         JOIN customer c ON d.node = 'c:' || c.c_custkey
         WHERE c.c_mktsegment = 'BUILDING'),
       ns AS (SELECT count(*) AS n FROM srcs),
       tele AS (
         SELECT d.node, d.outdeg,
           CASE WHEN s.node IS NOT NULL
                THEN CAST(1.0 AS DOUBLE) / ns.n ELSE CAST(0.0 AS DOUBLE) END AS t
         FROM deg d LEFT JOIN srcs s ON d.node = s.node CROSS JOIN ns),
       pr0 AS (SELECT node, t AS pr FROM tele),
       pr1 AS (
         SELECT t.node,
           CAST(0.15 AS DOUBLE) * t.t + 0.85 * (CAST(coalesce(m.s, 0) AS DOUBLE) / 1e12) AS pr
         FROM tele t LEFT JOIN (
           SELECT b.dst AS node,
             sum(CAST(floor((p.pr / d.outdeg) * 1e12) AS BIGINT)) AS s
           FROM bi b JOIN pr0 p ON b.src = p.node JOIN deg d ON b.src = d.node
           GROUP BY 1) m ON t.node = m.node),
       pr2 AS (
         SELECT t.node,
           CAST(0.15 AS DOUBLE) * t.t + 0.85 * (CAST(coalesce(m.s, 0) AS DOUBLE) / 1e12) AS pr
         FROM tele t LEFT JOIN (
           SELECT b.dst AS node,
             sum(CAST(floor((p.pr / d.outdeg) * 1e12) AS BIGINT)) AS s
           FROM bi b JOIN pr1 p ON b.src = p.node JOIN deg d ON b.src = d.node
           GROUP BY 1) m ON t.node = m.node),
       pr3 AS (
         SELECT t.node,
           CAST(0.15 AS DOUBLE) * t.t + 0.85 * (CAST(coalesce(m.s, 0) AS DOUBLE) / 1e12) AS pr
         FROM tele t LEFT JOIN (
           SELECT b.dst AS node,
             sum(CAST(floor((p.pr / d.outdeg) * 1e12) AS BIGINT)) AS s
           FROM bi b JOIN pr2 p ON b.src = p.node JOIN deg d ON b.src = d.node
           GROUP BY 1) m ON t.node = m.node)
       SELECT node, round(pr, 9) AS pr FROM pr3 ORDER BY node"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("q52_ppr", query, Some(oracleSql)))
}
