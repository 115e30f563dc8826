package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}
import ModelOracles.PlaceholderRoot

/** Driver queries for the sparse ML surface (m14/m15): a deterministic
  * HIGH-DIMENSIONAL sparse fixture derived at read time from the
  * documents table — hashed bag-of-words into D = 32768 dims with
  * integer term counts as values (the rcv1-class shape psvm trains on:
  * dims ≫ nnz; here ~6–31 non-zeros per row, a ~1400× density gap the
  * dense path would pay in full). Counts make every kernel distance an
  * EXACT integer, so the DuckDB oracle replays the merge-join kernels
  * order-free (sums of exact integers commute) while the Spark side
  * exercises the real fused sparse expressions.
  */
object SparseMlQueries {

  val Dim = 32768

  /** The sparse fixture: (doc_id, indices asc, values) — token →
    * md5-hashed dim, value = in-doc count. Derivation is pure column
    * algebra (one explode + one (doc,dim) aggregate + one per-doc
    * collect), replayed verbatim by the oracle CTEs. */
  private[graft] def sparseDocVectors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(split($"text", "\\s+")).as("tok"))
      .filter(length($"tok") > 0)
      .withColumn("idx",
        (conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % Dim).cast("int"))
      .groupBy($"doc_id", $"idx").agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"idx", $"cnt"))).as("s"))
      .select($"doc_id",
        expr("transform(s, x -> x.idx)").as("indices"),
        expr("transform(s, x -> cast(x.cnt as double))").as("values"))
  }

  /** The oracle's twin of [[sparseDocVectors]] as (doc_id, idx, cnt)
    * terms — the sparse pair stays unnested SQL-side because the
    * integer-exact kernel sums are plain joins + group-bys there. */
  private val termsSql: String =
    s"""toks AS (
         SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
         FROM documents),
       terms AS (
         SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % $Dim AS INTEGER) AS idx,
           count(*) AS cnt
         FROM toks WHERE length(tok) > 0
         GROUP BY doc_id, idx)"""

  /** m14: the four kernels over a fixed sparse pair grid — the m2 query
    * at 512× the dimensionality, through the fused merge-join
    * expressions. Hash-gated: counts make dot/‖·‖²/L1 exact integers,
    * so the oracle's join-based sums equal the engine's ordered merges
    * bit-for-bit, and the outer pow/exp are the m2-proven parity class. */
  def m14SparseKernels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = sparseDocVectors(spark, dir)
    val a = v.filter($"doc_id" < 3)
      .select($"doc_id".as("id_a"), $"indices".as("ia"), $"values".as("va"))
    val b = v.filter($"doc_id".between(3, 8))
      .select($"doc_id".as("id_b"), $"indices".as("ib"), $"values".as("vb"))
    a.join(b)
      .select($"id_a", $"id_b",
        size($"ia").cast("long").as("nnz_a"),
        size($"ib").cast("long").as("nnz_b"),
        round(Kernel.Linear.sparse($"ia", $"va", $"ib", $"vb"), 6).as("k_linear"),
        round(Kernel.Polynomial(0.01, 1.0, 2).sparse($"ia", $"va", $"ib", $"vb"), 6).as("k_poly"),
        round(Kernel.Rbf(0.01).sparse($"ia", $"va", $"ib", $"vb"), 6).as("k_rbf"),
        round(Kernel.Laplacian(0.01).sparse($"ia", $"va", $"ib", $"vb"), 6).as("k_laplacian"))
      .orderBy($"id_a", $"id_b")
  }

  val m14OracleSql: String =
    s"""WITH $termsSql,
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM (SELECT DISTINCT doc_id FROM terms WHERE doc_id < 3) a,
              (SELECT DISTINCT doc_id FROM terms WHERE doc_id BETWEEN 3 AND 8) b),
       norms AS (
         SELECT doc_id, sum(CAST(cnt AS DOUBLE) * cnt) AS ssq,
                sum(CAST(cnt AS DOUBLE)) AS tot
         FROM terms GROUP BY doc_id),
       mt AS (
         SELECT p.id_a, p.id_b,
           sum(CAST(ta.cnt AS DOUBLE) * tb.cnt) AS dot,
           sum(abs(CAST(ta.cnt AS DOUBLE) - tb.cnt)) AS ml1,
           sum(CAST(ta.cnt AS DOUBLE)) AS msa,
           sum(CAST(tb.cnt AS DOUBLE)) AS msb
         FROM pairs p
         JOIN terms ta ON ta.doc_id = p.id_a
         JOIN terms tb ON tb.doc_id = p.id_b AND tb.idx = ta.idx
         GROUP BY p.id_a, p.id_b),
       sums AS (
         SELECT p.id_a, p.id_b,
           coalesce(m.dot, 0) AS dot,
           na.ssq + nb.ssq - 2 * coalesce(m.dot, 0) AS sqd,
           coalesce(m.ml1, 0) + (na.tot - coalesce(m.msa, 0))
             + (nb.tot - coalesce(m.msb, 0)) AS l1d
         FROM pairs p
         JOIN norms na ON na.doc_id = p.id_a
         JOIN norms nb ON nb.doc_id = p.id_b
         LEFT JOIN mt m ON m.id_a = p.id_a AND m.id_b = p.id_b),
       nnz AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS nnz FROM terms GROUP BY doc_id)
       SELECT s.id_a, s.id_b, na.nnz AS nnz_a, nb.nnz AS nnz_b,
         round(dot, 6) AS k_linear,
         round(power(0.01 * dot + 1.0, 2), 6) AS k_poly,
         round(exp(-0.01 * sqd), 6) AS k_rbf,
         round(exp(-0.01 * l1d), 6) AS k_laplacian
       FROM sums s
       JOIN nnz na ON na.doc_id = s.id_a
       JOIN nnz nb ON nb.doc_id = s.id_b
       ORDER BY s.id_a, s.id_b"""

  /** m15: the sparse SVM end-to-end — fit on the 32768-dim fixture with
    * doc-parity ±1 labels, persist, RELOAD, score everything, reduce to
    * the confusion matrix + metrics (the m1 shape). The oracle replays
    * f(x) = w·(Wᵀ k(x, l)) + b entirely from the saved sparse model
    * files and the SQL-derived fixture. */
  def m15SparseSvmEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val data = sparseDocVectors(spark, dir)
      .withColumn("y", when($"doc_id" % 2 === 0, 1.0).otherwise(-1.0))
    val path = s"${ModelOracles.modelRoot(dir)}/m15_sparse"
    val fitted = SparseKernelSvmTrainer.fit(data, "doc_id", "indices", "values", "y",
      KernelSvmParams(kernel = Kernel.Rbf(0.01), numLandmarks = 32,
                      regParam = 1e-3, maxIter = 20, tol = 1e-4))
    fitted.save(spark, path)
    val model = SparseKernelSvmModel.load(spark, path)
    SvmEvaluator.evaluate(model.predict(data, "indices", "values"), "y")
  }

  /** m15 oracle: kernel sums via the integer-exact expansion
    * ‖a−b‖² = ‖a‖² + ‖b‖² − 2⟨a,b⟩ (every operand an exact integer, so
    * no ordered-merge emulation is needed), then the m1 replay chain —
    * ks ordered by landmark id, φ and the decision as list_sum
    * comprehensions (the proven sequential-parity forms). */
  val m15OracleSql: String =
    s"""WITH $termsSql,
       lmr AS (
         SELECT idx AS lm_i, lidx, lval
         FROM read_parquet('$PlaceholderRoot/m15_sparse/landmarks/*.parquet')),
       pr AS (
         SELECT array_agg(w_row ORDER BY idx) AS W
         FROM read_parquet('$PlaceholderRoot/m15_sparse/projection/*.parquet')),
       pp AS (
         SELECT gamma, weights, intercept
         FROM read_parquet('$PlaceholderRoot/m15_sparse/params/*.parquet')),
       lmt AS (
         SELECT lm_i, unnest(lidx) AS dim, unnest(lval) AS v FROM lmr),
       lnorm AS (SELECT lm_i, sum(v * v) AS ssq FROM lmt GROUP BY lm_i),
       pnorm AS (
         SELECT doc_id, sum(CAST(cnt AS DOUBLE) * cnt) AS ssq
         FROM terms GROUP BY doc_id),
       dots AS (
         SELECT t.doc_id, l.lm_i, sum(CAST(t.cnt AS DOUBLE) * l.v) AS dot
         FROM terms t JOIN lmt l ON l.dim = t.idx
         GROUP BY t.doc_id, l.lm_i),
       kx AS (
         SELECT pn.doc_id, ln.lm_i,
           exp(-(SELECT gamma FROM pp) *
               (pn.ssq + ln.ssq - 2 * coalesce(d.dot, 0.0))) AS k
         FROM pnorm pn CROSS JOIN lnorm ln
         LEFT JOIN dots d ON d.doc_id = pn.doc_id AND d.lm_i = ln.lm_i),
       kxl AS (
         SELECT doc_id, list(k ORDER BY lm_i) AS ks FROM kx GROUP BY doc_id),
       phi AS (
         SELECT kxl.doc_id,
           CASE WHEN kxl.doc_id % 2 = 0 THEN 1.0 ELSE -1.0 END AS y,
           [list_sum([pr.W[i][j] * kxl.ks[i] for i in range(1, len(kxl.ks) + 1)])
            for j in range(1, len(pp.weights) + 1)] AS f
         FROM kxl, pr, pp),
       dec AS (
         SELECT phi.doc_id, phi.y,
           list_sum([pp.weights[j] * phi.f[j] for j in range(1, len(pp.weights) + 1)])
             + pp.intercept AS d
         FROM phi, pp),
       cm AS (
         SELECT
           CAST(sum(CASE WHEN y > 0 AND d >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN y <= 0 AND d >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN y <= 0 AND d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           CAST(sum(CASE WHEN y > 0 AND d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
         FROM dec),
       m AS (
         SELECT tp, fp, tn, fn,
           round(CAST(tp + tn AS DOUBLE) / CAST(tp + tn + fp + fn AS DOUBLE), 6) AS accuracy,
           round(CASE WHEN tp + fp > 0
             THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) ELSE 0.0 END, 6) AS "precision",
           round(CASE WHEN tp + fn > 0
             THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) ELSE 0.0 END, 6) AS recall
         FROM cm)
       SELECT tp, fp, tn, fn, accuracy, "precision", recall,
         round(CASE WHEN "precision" + recall > 0
           THEN 2.0 * "precision" * recall / ("precision" + recall)
           ELSE 0.0 END, 6) AS f1
       FROM m"""

  def specs: Seq[QuerySpec] = Seq(
    // m14/m15: the sparse ML surface — merge-join kernels on the hashed
    // bag-of-words fixture (integer-exact inner sums), and the sparse
    // SVM's persisted-model decision replay (the m1 chain, sparse files).
    QuerySpec("m14_sparse_kernels", m14SparseKernels, Some(m14OracleSql)),
    QuerySpec("m15_sparse_svm_eval", m15SparseSvmEval, Some(m15OracleSql)))
}
