package graft.sim



import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}
import graft.functions.{GraftFunctions, VectorOps}
import graft.ml.ModelOracles.PlaceholderRoot

/** §2.3 P7c: product-quantization ANN (asymmetric distance computation
  * with exact re-ranking) — the third scale path next to [[LshAnn]] and
  * [[IvfAnn]], and the standard COMPRESSION layout for billion-vector
  * corpora: each vector is stored as `m` small codebook indices instead
  * of `dim` floats (here 4 bytes-worth vs 64 floats, a 64× shuffle and
  * memory reduction on the corpus side).
  *
  * Training: the vector space is split into `m` contiguous subspaces;
  * a seeded k-means per subspace learns a `k`-codeword codebook.
  * Encoding is a narrow map (nearest codeword per subspace). Scoring is
  * ADC: per query, ONE m×k lookup table of subspace distances is built
  * as a column expression, and each candidate costs m `element_at`
  * lookups — O(m) per pair instead of O(dim), with every term a builtin
  * codegen expression (the m-term sum is unrolled, no interpreted HOF).
  * The ADC top-`rerank` shortlist is re-ranked with the exact fused
  * cosine, the standard PQ + re-ranking pipeline.
  *
  * Scale shape: codebooks are driver-side m×k×(dim/m) literals (tiny by
  * design); encoding and table-building are per-row maps; the ADC scan
  * shuffles only narrow (query, neighbor, adc) triples through a
  * two-level top-`rerank` (per corpus-partition first, then global), so
  * no task ever ranks the whole corpus and the vectors themselves never
  * enter a shuffle. Approximate by design → rows-only with measured
  * recall (like p7/p7b), fail-fast below floor.
  */
object PqAnn {

  /** Per-subspace seeded k-means codebooks: m × k × (dim/m).
    *
    * Codebooks are trained on a bounded sample (`trainRows`), the
    * standard PQ practice (Jégou et al. train on a corpus subset): the
    * codebook quality saturates at thousands of vectors per codeword
    * while a full-corpus fit would rescan 100 TB per k-means iteration
    * per subspace. Because the sample is bounded regardless of corpus
    * size, the k-means itself runs DRIVER-LOCAL (seeded k-means++ +
    * Lloyd's over ≤ trainRows×dim doubles, a few MB): one Spark job
    * collects the sample, then the m×maxIter iterations cost zero
    * scheduler round-trips — versus ~m×maxIter distributed jobs whose
    * fixed overhead dwarfs the microseconds of real work per iteration. */
  def fitCodebooks(df: DataFrame, vecCol: String, m: Int, k: Int,
                   seed: Long = 42L, maxIter: Int = 10,
                   trainRows: Int = 4096): Array[Array[Array[Double]]] = {
    // hash-ordered sample, not limit(): a limit takes whatever file
    // prefix the scan yields, which on a partitioned/sorted corpus is a
    // biased slice of the distribution; ordering by the vector's hash
    // spreads the sample deterministically across the whole corpus
    val sample = df.select(VectorOps.toDoubleArray(col(vecCol)).as("v"))
      .orderBy(xxhash64(col("v")))
      .limit(trainRows)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty training sample for PQ codebooks")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    (0 until m).toArray.map { s =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub))
      lloyd(pts, k, seed + s, maxIter)
    }
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
    d
  }

  /** Seeded k-means++ init + Lloyd's, driver-local. Deterministic for a
    * given (points, k, seed). Empty clusters keep their previous center. */
  private def lloyd(pts: Array[Array[Double]], k: Int, seed: Long,
                    maxIter: Int): Array[Array[Double]] = {
    val n = pts.length
    val rnd = new scala.util.Random(seed)
    val kk = math.min(k, n)
    // k-means++ seeding: first center uniform, rest ∝ squared distance
    val centers = scala.collection.mutable.ArrayBuffer(pts(rnd.nextInt(n)).clone())
    val d2 = Array.fill(n)(Double.MaxValue)
    while (centers.length < kk) {
      val c = centers.last
      var i = 0; var sum = 0.0
      while (i < n) {
        val d = sqDist(pts(i), c); if (d < d2(i)) d2(i) = d; sum += d2(i); i += 1
      }
      var r = rnd.nextDouble() * sum; var j = 0
      while (j < n - 1 && r > d2(j)) { r -= d2(j); j += 1 }
      centers += pts(j).clone()
    }
    // pad (degenerate tiny samples) so callers always get k codewords
    while (centers.length < k) centers += centers(centers.length % kk).clone()
    val cs = centers.toArray
    val dimS = pts(0).length
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val sums = Array.fill(k)(new Array[Double](dimS))
      val counts = new Array[Int](k)
      var i = 0
      while (i < n) {
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) {
          val d = sqDist(pts(i), cs(c)); if (d < bd) { bd = d; best = c }; c += 1
        }
        counts(best) += 1
        val s = sums(best); var j = 0
        while (j < dimS) { s(j) += pts(i)(j); j += 1 }
        i += 1
      }
      moved = false
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dimS) {
            val v = sums(c)(j) / counts(c)
            if (v != cs(c)(j)) { moved = true; cs(c)(j) = v }
            j += 1
          }
        }
        c += 1
      }
      iter += 1
    }
    cs
  }

  /** PQ code of a vector: m nearest-codeword indices (0-based; first
    * index on ties). One fused loop with the codebooks as a reference
    * object — the per-codeword sq_distance literal trees this replaced
    * put m·k·sub literal nodes into the plan per call site (see
    * CodebookExpressions); arithmetic and order are identical. */
  def encode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    graft.functions.CodebookExpressions.pqEncode(vec, codebooks)

  /** Per-query ADC table: flat array of m·k squared distances from each
    * query subvector to each codeword (subspace-major, fused loop). */
  private[sim] def adcTable(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    graft.functions.CodebookExpressions.pqAdcTable(vec, codebooks)

  /** Unrolled ADC distance: Σ_s table[s·k + code[s]] — m element_at
    * lookups, all codegen. */
  private[sim] def adcDist(tab: Column, codes: Column, m: Int, k: Int): Column =
    (0 until m).map(s =>
      element_at(tab, element_at(codes, s + 1) + lit(s * k) + 1)).reduce(_ + _)

  /** Approximate top-k neighbors per query: ADC shortlist → exact
    * cosine re-rank.
    *
    * `rerank < 0` (default) auto-scales the shortlist with corpus size,
    * clamp(n/50, 100, 1000): a FIXED shortlist is a shrinking fraction
    * of a growing corpus (100 of 2k = 5%; 100 of 20k = 0.5%), which
    * silently degrades recall with scale; the 1000 cap keeps the
    * per-query re-rank cost bounded at billion-vector corpora, where
    * recall should come from better codes (larger m/kCode, or PQ over
    * IVF cells), not an unbounded shortlist. */
  def annTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, m: Int = 8, kCode: Int = 16,
              rerank: Int = -1, seed: Long = 42L): DataFrame =
    annTopKWith(fitCodebooks(corpus, vecCol, m, kCode, seed),
      corpus, queries, idCol, vecCol, k, kCode, rerank)

  /** The PQ scoring pipeline with pre-fit codebooks (shared by
    * [[annTopK]] and the persisted-codebook p7c replay path). */
  def annTopKWith(codebooks: Array[Array[Array[Double]]],
                  corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, kCode: Int,
                  rerank: Int = -1): DataFrame = {
    val m = codebooks.length
    val rerankN =
      if (rerank > 0) rerank
      else math.min(1000, math.max(100, (corpus.count() / 50L).toInt))
    val c = corpus.select(col(idCol).as("neighbor_id"),
        VectorOps.toDoubleArray(col(vecCol)).as("nvec"))
      .withColumn("codes", encode(col("nvec"), codebooks))
    val q = queries.select(col(idCol).as("query_id"),
        VectorOps.toDoubleArray(col(vecCol)).as("qvec"))
      .withColumn("tab", adcTable(col("qvec"), codebooks))
    // ADC scan stays narrow: only (query_id, neighbor_id, adc) leaves the
    // map side — the vectors, codes, and ADC tables never enter a shuffle.
    val scored = q.select(col("query_id"), col("tab"))
      .crossJoin(c.select(col("neighbor_id"), col("codes")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
              adcDist(col("tab"), col("codes"), m, kCode).as("adc"),
              spark_partition_id().as("pid"))
    // Two-level top-`rerank`: first per (query, corpus-partition) — spread
    // over #queries × #partitions keys so no task ever ranks the full
    // corpus — then globally per query over ≤ rerank × #partitions
    // survivors. Exact min-by-(adc, neighbor_id) is preserved by the
    // two-level reduction because every global top-rerank row is in its
    // partition's top-rerank.
    val wLocal = Window.partitionBy(col("query_id"), col("pid"))
      .orderBy(col("adc"), col("neighbor_id"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("neighbor_id"))
    val shortlist = scored
      .withColumn("lr", row_number().over(wLocal))
      .filter(col("lr") <= rerankN)
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= rerankN)          // compressed-domain shortlist
      .select(col("query_id"), col("neighbor_id"))
    // Exact re-rank of the tiny shortlist: broadcast it into the corpus to
    // recover vectors (corpus side never shuffles), then the final window
    // ranks only #queries × rerank rows.
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.select(col("neighbor_id"), col("nvec"))
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qvec"))), Seq("query_id"))
      .withColumn("cos", GraftFunctions.cosine_sim(col("qvec"), col("nvec")))
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
              round(col("cos"), 6).as("cos_sim"))
  }

  private val fitted =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()

  /** Fit (memoized per sf-dir per JVM) and PERSIST the per-subspace
    * codebooks as (subspace, codeword, vec) rows — the p28/p7b
    * persist-and-replay discipline: with the codebooks on disk, code
    * assignment, the ADC sums, the shortlist cut, and the exact
    * re-rank are all deterministic arithmetic the DuckDB oracle
    * replays bit-exactly, so the p7c row is hash-gated end-to-end. */
  private[graft] def codebooksFor(spark: SparkSession, dir: String,
                                  m: Int, kCode: Int): Array[Array[Array[Double]]] =
    // memo key carries m/kCode — a different-parameter caller gets its own fit
    fitted.computeIfAbsent(s"$dir#$m:$kCode", _ => {
      val cbs = fitCodebooks(Tables.embeddings(spark, dir), "embedding", m, kCode)
      val rows = for {
        (cws, s) <- cbs.zipWithIndex.toSeq
        (cw, j) <- cws.zipWithIndex
      } yield (s, j, cw)
      spark.createDataFrame(rows).toDF("subspace", "codeword", "vec")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${graft.ml.ModelOracles.modelRoot(dir)}/p7c_codebooks")
      cbs
    })

  /** p7c: PQ top-10 for the first 5 vectors, annotated with measured
    * recall vs the exact top-k and failing fast below the floor. The
    * floor is modest for the same near-random-corpus reason as p7/p7b;
    * the spec pins recall 1.0 for planted identical twins (whose PQ
    * codes coincide exactly). Hash-gated: the oracle replays encoding,
    * ADC, shortlist, and re-rank from the persisted codebooks. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val q = e.filter($"vec_id" < 5)
    val cbs = codebooksFor(spark, dir, m = 8, kCode = 16)
    AnnRecall.annotate(
        annTopKWith(cbs, e, q, "vec_id", "embedding", 10, kCode = 16),
        e, q, "vec_id", "embedding", 10,
        minRecall = 0.2, label = "p7c_ann_pq")
      .orderBy($"query_id", $"rank")
  }

  /** DuckDB replay from the persisted codebooks. Structure mirrors the
    * engine exactly: per-subspace nearest-codeword encoding (argmin
    * ties to the lower codeword, Spark's array_position-of-min), ADC
    * distance as the subspace-ordered sequential sum (list_reduce over
    * s ASC = the engine's unrolled s-ascending + chain), the global
    * top-`rerank` shortlist on (adc, neighbor_id) — exactly what the
    * engine's two-level cut yields, since every global survivor is in
    * its partition's local top — and the exact cosine re-rank (p6's
    * proven-parity form), plus the recall annotation columns. The
    * shortlist size replays the same clamp(n/50, 100, 1000) the engine
    * auto-scales with corpus size. */
  val oracleSql: String = {
    val sub = 8 // dim 64 / m 8
    val cos =
      """list_sum(list_transform(list_zip(q.embedding, n.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          * sqrt(list_sum(list_transform(n.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""
    s"""WITH cb AS (
         SELECT subspace, codeword, vec
         FROM read_parquet('$PlaceholderRoot/p7c_codebooks/*.parquet')),
       rn AS (
         SELECT CAST(LEAST(1000, GREATEST(100, count(*) // 50)) AS BIGINT) AS rerank
         FROM embeddings),
       codes AS (
         SELECT vec_id, subspace, codeword FROM (
           SELECT e.vec_id, cb.subspace, cb.codeword,
             row_number() OVER (PARTITION BY e.vec_id, cb.subspace ORDER BY
               list_sum(list_transform(
                 list_zip(e.embedding[cb.subspace * $sub + 1 : cb.subspace * $sub + $sub], cb.vec),
                 x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                    * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))),
               cb.codeword) AS rk
           FROM embeddings e CROSS JOIN cb) WHERE rk = 1),
       qdist AS (
         SELECT e.vec_id AS query_id, cb.subspace, cb.codeword,
           list_sum(list_transform(
             list_zip(e.embedding[cb.subspace * $sub + 1 : cb.subspace * $sub + $sub], cb.vec),
             x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS d
         FROM embeddings e CROSS JOIN cb
         WHERE e.vec_id < 5),
       adc AS (
         SELECT qd.query_id, c.vec_id AS neighbor_id,
           list_reduce(list(qd.d ORDER BY qd.subspace), (a, x) -> a + x) AS adc
         FROM codes c
         JOIN qdist qd ON qd.subspace = c.subspace AND qd.codeword = c.codeword
         WHERE c.vec_id <> qd.query_id
         GROUP BY qd.query_id, c.vec_id),
       shortlist AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS ar
           FROM adc) WHERE ar <= (SELECT rerank FROM rn)),
       approx AS (
         SELECT query_id, neighbor_id, rank, round(cs, 6) AS cos_sim FROM (
           SELECT s.query_id, s.neighbor_id, $cos AS cs,
             row_number() OVER (PARTITION BY s.query_id ORDER BY $cos DESC, s.neighbor_id) AS rank
           FROM shortlist s
           JOIN embeddings q ON q.vec_id = s.query_id
           JOIN embeddings n ON n.vec_id = s.neighbor_id) t
         WHERE rank <= 10),
       exact AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rank
           FROM (
             SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, $cos AS cs
             FROM embeddings q, embeddings n
             WHERE q.vec_id < 5 AND q.vec_id <> n.vec_id) t1) t2
         WHERE rank <= 10),
       ov AS (
         SELECT a.query_id, count(*) AS n_overlap
         FROM approx a JOIN exact e
           ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         GROUP BY a.query_id)
       SELECT a.query_id, a.neighbor_id, a.rank, a.cos_sim,
         CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS exact_overlap,
         CAST(10 AS BIGINT) AS k,
         round(coalesce(ov.n_overlap, 0) / 10.0, 6) AS recall
       FROM approx a LEFT JOIN ov ON a.query_id = ov.query_id
       ORDER BY a.query_id, a.rank"""
  }

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p7c_ann_pq", query, Some(oracleSql)))
}
