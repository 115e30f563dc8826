package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}
import graft.functions.GraftFunctions

/** §2.3 P67 (p67): GRAPH ANN by NN-DESCENT (Dong et al., WWW 2011) —
  * the k-NN-graph construction family behind HNSW/NSG-class indexes,
  * and the fourth ANN scale path next to LSH (p7), IVF (p7b), and PQ
  * (p7c). The principle: a node's neighbors' neighbors are likely
  * neighbors — start from a cheap diverse graph and run a fixed number
  * of neighbor-of-neighbor refinement rounds, each keeping the exact
  * top-k of the candidate union.
  *
  * Deterministic formulation (so the WHOLE trajectory is hash-gated,
  * with NO persisted state — unlike the k-means paths, every step is
  * pure arithmetic + exact cosine from the corpus alone):
  *   - init: node v's candidate set is {(v + 1 + md5(v·16+j) mod
  *     (n−1)) mod n, j = 1..k} — per-node pseudo-random spread through
  *     the md5-bucket idiom every oracle already replays; duplicates
  *     collapse (rounds refill to k);
  *   - round: symmetrize the graph (U = N ∪ N⁻¹ — the reverse edges
  *     are NN-descent's key trick), candidates = U(v) ∪ (U∘U)(v),
  *     score with the exact fused cosine, keep top-k by
  *     (cos DESC, neighbor ASC). Two rounds (fixed, so the oracle
  *     unrolls statically).
  *
  * Scale shape: each round is two keyed self-joins of an n·k edge list
  * (never the corpus² cross join — candidate count is ≤ (2k)²·n), one
  * narrow cosine map over candidate pairs with vectors joined in, and
  * one top-k window keyed by node. At 100 TB the edge list is the only
  * shuffled state (k integers per node), which is why NN-descent is
  * the standard billion-scale k-NN-graph builder.
  *
  * The query FAILS FAST unless mean recall@k vs the exact graph clears
  * a floor (AnnRecall's discipline, computed in-query but kept out of
  * the output so the oracle replays only the deterministic trajectory);
  * the spec additionally pins recall ≥ p6-agreement on the clustered
  * fixture and monotone round-over-round improvement.
  */
object NnDescent {

  val K = 10
  val Rounds = 2

  private def md5Bucket(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  /** Deterministic init edges: ≤ k pseudo-random distinct neighbors per
    * node (self-loops and duplicate targets collapse). The seed
    * arithmetic runs in RANK space, not raw-id space: ids are NOT
    * assumed dense (the decade corpus carries replica-shifted ids —
    * id-space modular arithmetic there produced neighbors that do not
    * exist, i.e. an empty graph, caught by the recall gate). `nodes`
    * carries (id, rk) with rk the global id-order rank. */
  private def initEdges(nodes: DataFrame, n: Long, k: Int): DataFrame = {
    val spark = nodes.sparkSession
    val tgt = nodes.select(col("rk").as("nrk"), col("id").as("nbr"))
    nodes.select(col("id").as("src"), col("rk"))
      .crossJoin(spark.range(1, k + 1).toDF("j"))
      .select(col("src"),
        pmod(col("rk") + lit(1L) + pmod(md5Bucket(col("rk") * 16 + col("j")), lit(n - 1)),
          lit(n)).as("nrk"))
      .join(tgt, "nrk")
      .filter(col("src") =!= col("nbr"))
      .select(col("src"), col("nbr"))
      .distinct()
  }

  /** One refinement round: symmetrize, expand one hop, score, top-k. */
  private def refine(graph: DataFrame, vecs: DataFrame, k: Int): DataFrame = {
    val und = graph.select(col("src"), col("nbr"))
      .unionByName(graph.select(col("nbr").as("src"), col("src").as("nbr")))
      .distinct()
    val hop2 = und.select(col("src"), col("nbr").as("mid"))
      .join(und.select(col("src").as("mid"), col("nbr")), "mid")
      .select(col("src"), col("nbr"))
    val cand = und.unionByName(hop2)
      .filter(col("src") =!= col("nbr"))
      .distinct()
    topK(cand, vecs, k)
  }

  /** Exact-cosine top-k of a candidate edge list. */
  private def topK(cand: DataFrame, vecs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("nbr"))
    cand
      .join(vecs.select(col("id").as("src"), col("v").as("sv")), "src")
      .join(vecs.select(col("id").as("nbr"), col("v").as("nv")), "nbr")
      .withColumn("cos", GraftFunctions.cosine_sim(col("sv"), col("nv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("src"), col("nbr"), col("rank"), col("cos"))
  }

  /** Build the k-NN graph: init + `rounds` refinement rounds. Returns
    * (src, nbr, rank, cos). */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String,
               k: Int = K, rounds: Int = Rounds): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(idCol).cast("long").as("id"),
      graft.functions.VectorOps.toDoubleArray(col(vecCol)).as("v"))
    Materialize.scoped(vecs) {
      val n = vecs.count()
    // global id-order rank via distributed zipWithIndex (range-sorted
    // partitions + per-partition offsets — never a one-partition
    // window); the oracle's twin is row_number() OVER (ORDER BY id) - 1
      val ranked = vecs.select($"id").orderBy($"id").as[Long].rdd
        .zipWithIndex().map { case (id, r) => (id, r) }.toDF("id", "rk")
      var g = Materialize(topK(initEdges(vecs.select($"id").join(ranked, "id"), n, k), vecs, k))
      for (_ <- 1 to rounds)
        g = Materialize(refine(g, vecs, k))
      g
    }
  }

  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build the deterministic graph once per (dir, k) per JVM and persist
    * the FULL edge rows (node_id, neighbor_id, rank, cos) — the one
    * index build p67 (the fit query) and p67b (the serving query) both
    * read, exactly like the IVF family's persisted centroids/codebooks.
    * Before this, p67 and p67b each rebuilt the identical graph inside
    * one JVM — a duplicated full fit per bench/verify run. */
  private[graft] def graphPath(spark: SparkSession, dir: String, k: Int = K): String =
    built.computeIfAbsent(s"$dir#$k", _ => {
      val path = s"${graft.ml.ModelOracles.modelRoot(dir)}/p67_graph"
      knnGraph(Tables.embeddings(spark, dir), "vec_id", "embedding", k)
        .select(col("src").as("node_id"), col("nbr").as("neighbor_id"),
                col("rank"), col("cos"))
        .coalesce(1).write.mode("overwrite").parquet(path)
      path
    })

  /** p67: the full deterministic 2-round NN-descent graph over the
    * embeddings corpus, hash-gated; mean recall vs the exact graph is
    * gated in-query (fail-fast, not emitted).
    *
    * The gate runs on an ANCHORED PANEL (~256 hash-picked nodes — the
    * p5b discipline): a full all-nodes exact check is O(n²) WITH an
    * n²-row window shuffle, which is exactly the scale failure this
    * operator exists to avoid; the panel keeps the gate O(panel·n) at
    * any corpus (and exhaustive below ~256 nodes).
    *
    * The floor is LIFT OVER THE RANDOM-GRAPH BASELINE, not an absolute
    * recall: on structureless (near-random) embeddings, descent recall
    * decays with corpus size by nature — the exact top-k is the extreme
    * tail of n random cosines while each node explores only ~(2k)²
    * candidates (measured on this corpus: 0.5 at 500 vectors, 0.35 at
    * 20k, 0.0067 at 200k — respectively 25x, 700x, and 134x the
    * random-graph expectation k/(n-1)). Requiring >= 10x that baseline
    * is scale-invariant, trips on structural breakage (an empty or
    * mis-ranked graph sits at <= 1x), and never penalizes the honest
    * physics of random data; the spec pins the absolute >= 0.9 bar on
    * the clustered fixture the algorithm is actually for. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val n = e.count()
    // serve the persisted build (shared with p67b's walk) — the rows are
    // the same deterministic arithmetic either way; parquet stores the
    // raw IEEE doubles exactly, so the 6dp output rounding is unchanged
    val g = spark.read.parquet(graphPath(spark, dir))
    val every = math.max(1L, n / 256L)
    val anchors = e.filter(pmod(xxhash64($"vec_id"), lit(every)) === 0)
    val exact = Knn.bruteForce(e, anchors, "vec_id", "embedding", K)
      .select($"query_id".as("node_id"), $"neighbor_id".as("nbr2"))
    val anchorEdges = g.join(
      anchors.select($"vec_id".cast("long").as("node_id")), Seq("node_id"), "leftsemi")
    val hit = anchorEdges.select($"node_id", $"neighbor_id".as("nbr2"))
      .join(exact, Seq("node_id", "nbr2"), "leftsemi").count()
    val total = anchorEdges.count()
    val recall = hit.toDouble / math.max(total, 1L)
    val baseline = K.toDouble / math.max(n - 1, 1L)
    require(recall >= 10.0 * baseline,
      f"p67 panel mean recall $recall%.4f below 10x the random-graph baseline " +
      f"${baseline}%.2e — NN-descent regressed")
    g.select($"node_id", $"neighbor_id", $"rank",
        round($"cos", 6).as("cos_sim"))
      .orderBy($"node_id", $"rank")
  }

  /** DuckDB replay of the ENTIRE trajectory: md5 init, two unrolled
    * symmetrize→hop-2→score→top-k rounds, exact cosine in the p6
    * proven-parity form, same (cos DESC, nbr ASC) tie-break. */
  val oracleSql: String = {
    val cos =
      """list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""
    def topk(candCte: String, out: String) =
      s"""$out AS (
           SELECT src, nbr, rank, cos FROM (
             SELECT c.src, c.nbr, $cos AS cos,
               row_number() OVER (PARTITION BY c.src ORDER BY $cos DESC, c.nbr) AS rank
             FROM $candCte c
             JOIN embeddings a ON a.vec_id = c.src
             JOIN embeddings b ON b.vec_id = c.nbr) t
           WHERE rank <= $K)"""
    def round(inG: String, out: String) =
      s"""u_$out AS (
           SELECT src, nbr FROM $inG
           UNION
           SELECT nbr AS src, src AS nbr FROM $inG),
         c_$out AS (
           SELECT src, nbr FROM u_$out
           UNION
           SELECT x.src, y.nbr
           FROM u_$out x JOIN u_$out y ON y.src = x.nbr
           WHERE x.src <> y.nbr),
         ${topk(s"c_$out", out)}"""
    s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
       ranked AS (
         SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS rk
         FROM embeddings),
       init AS (
         SELECT DISTINCT s.src, t.vec_id AS nbr FROM (
           SELECT r.vec_id AS src,
             (r.rk + 1 + (CAST(('0x' || substr(md5(CAST(r.rk * 16 + j AS VARCHAR)), 1, 8)) AS BIGINT)
               % (nn.n - 1))) % nn.n AS nrk
           FROM ranked r,
                (SELECT unnest(range(1, ${K + 1})) AS j) jj, nn) s
         JOIN ranked t ON t.rk = s.nrk
         WHERE t.vec_id <> s.src),
       ${topk("init", "g0")},
       ${round("g0", "g1")},
       ${round("g1", "g2")}
       SELECT src AS node_id, nbr AS neighbor_id, rank, round(cos, 6) AS cos_sim
       FROM g2 ORDER BY node_id, rank"""
  }

  // p67: the NN-descent trajectory needs no persisted state at all —
  // md5 init + two unrolled refine rounds replay from the corpus.
  def specs: Seq[QuerySpec] = Seq(QuerySpec("p67_nn_descent", query, Some(oracleSql)))
}
