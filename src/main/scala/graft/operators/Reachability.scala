package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec}

/** §2.2 R42 (q44): k-hop reachability — SEMI-NAIVE transitive-closure
  * evaluation (the recursive-CTE / Datalog operator class) over the
  * shared customer–supplier graph. The curation analog is crawl-frontier
  * expansion / citation-neighborhood harvesting: start from a trusted
  * seed set and pull in everything within k interaction hops, recording
  * the discovery hop (= minimum distance, by BFS order).
  *
  * Spark shape (100 TB): classic semi-naive evaluation — per hop, ONE
  * equi-join of the edge list against the (shrinking) frontier on the
  * vertex key plus ONE vertex-keyed anti-join against the reached set,
  * so each iteration touches |frontier|-proportional edge rows, never
  * the closure so far. Both joins key on the vertex id, reusing the
  * same hash partitioning per hop; the delta frontier is materialized
  * per hop (vertex-sized, not edge-sized) so no plan/lineage blow-up.
  * This is exactly how Datalog engines bound recursion cost, re-expressed
  * as DataFrame ops; DuckDB replays it as explicitly unrolled CTEs.
  */
object Reachability {

  private val Hops = 3

  /** BFS layers: (node, hop) with hop = first hop at which `node` is
    * reached from `seeds` (hop 0 = the seeds themselves).
    *
    * The frontier and the reached set are VERTEX-sized while the edge
    * list is the big table, so each hop is one broadcast-hash join of
    * the frontier against a straight columnar edge scan plus one
    * broadcast anti-join against the reached set — zero edge-sized
    * shuffles or cache residency (the r7 repartition+persist+
    * per-hop-checkpoint shape paid 30–70s at sf0.1 in cold JVMs; same
    * finding as PageRank.ranks). The hints are
    * gated on the MEASURED reached-set count (free — the deltas are
    * checkpointed), so past `maxBroadcastNodes` reached vertices (see
    * [[GraphBroadcast.MaxBroadcastNodes]] for the heap-derived default)
    * the hint disappears and Spark shuffles on the vertex key instead
    * of force-broadcasting something executor-memory-sized. */
  def bfsLayers(edges: DataFrame, seeds: DataFrame, hops: Int = Hops,
                maxBroadcastNodes: Long = GraphBroadcast.MaxBroadcastNodes): DataFrame = {
    def hinted(df: DataFrame, rows: Long): DataFrame =
      if (rows <= maxBroadcastNodes) broadcast(df) else df
    var reached  = Materialize(seeds.select(col("node")).distinct()
      .withColumn("hop", lit(0)))
    var nReached  = reached.count()
    var frontier  = reached.select("node")
    var nFrontier = nReached
    for (h <- 1 to hops if nFrontier > 0) {
      val next = Materialize(edges // delta is vertex-sized; keeps lineage flat
        .join(hinted(frontier.withColumnRenamed("node", "src"), nFrontier), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(hinted(reached.select("node"), nReached), Seq("node"), "left_anti")
        .withColumn("hop", lit(h)))
      nFrontier = next.count()
      frontier = next.select("node")
      reached = reached.union(next)
      nReached += nFrontier
    }
    reached
  }

  /** q44: customers with custkey ≡ 0 (mod 25) as seeds, 3 hops over the
    * symmetrized customer–supplier graph. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seeds = graft.Tables.customer(spark, dir)
      .filter($"c_custkey" % 25 === 0)
      .select(($"c_custkey" * 2).as("node"))
    bfsLayers(PageRank.csEdges(spark, dir), seeds)
      .select(PageRank.nodeStr($"node").as("node"), $"hop".cast("int").as("hop"))
      .orderBy($"hop", $"node")
  }

  val oracleSql: String =
    """WITH e0 AS (
         SELECT DISTINCT 'c:' || o.o_custkey AS src, 's:' || l.l_suppkey AS dst
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       bi AS (SELECT src, dst FROM e0
              UNION ALL SELECT dst AS src, src AS dst FROM e0),
       seeds AS (SELECT DISTINCT 'c:' || c_custkey AS node FROM customer
                 WHERE c_custkey % 25 = 0),
       h1 AS (SELECT DISTINCT b.dst AS node FROM bi b JOIN seeds s ON b.src = s.node
              WHERE b.dst NOT IN (SELECT node FROM seeds)),
       h2 AS (SELECT DISTINCT b.dst AS node FROM bi b JOIN h1 ON b.src = h1.node
              WHERE b.dst NOT IN (SELECT node FROM seeds UNION ALL SELECT node FROM h1)),
       h3 AS (SELECT DISTINCT b.dst AS node FROM bi b JOIN h2 ON b.src = h2.node
              WHERE b.dst NOT IN (SELECT node FROM seeds UNION ALL SELECT node FROM h1
                                  UNION ALL SELECT node FROM h2))
       SELECT node, CAST(0 AS INT) AS hop FROM seeds
       UNION ALL SELECT node, CAST(1 AS INT) FROM h1
       UNION ALL SELECT node, CAST(2 AS INT) FROM h2
       UNION ALL SELECT node, CAST(3 AS INT) FROM h3
       ORDER BY hop, node"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("q44_reachability", query, Some(oracleSql)))
}
