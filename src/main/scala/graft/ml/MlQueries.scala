package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}
import graft.functions.VectorOps
import ModelOracles.{PlaceholderRoot, metricsTailSql, nystromEvalSql, svModelReplaySql}

/** SparkEntry wrappers for the §2.1 ML surface over the embeddings table. */
object MlQueries {

  /** m2: the four kernel values over a fixed pair grid (oracle-checked —
    * the kernels are plain double math DuckDB can mirror). */
  def kernelValues(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", VectorOps.toDoubleArray($"embedding").as("v"))
    val a = e.filter($"vec_id" < 3)
      .select($"vec_id".as("id_a"), $"v".as("va"))
    val b = e.filter($"vec_id".between(3, 8))
      .select($"vec_id".as("id_b"), $"v".as("vb"))
    a.join(b)
      .select($"id_a", $"id_b",
        round(Kernel.Linear($"va", $"vb"), 6).as("k_linear"),
        round(Kernel.Polynomial(0.01, 1.0, 2)($"va", $"vb"), 6).as("k_poly"),
        round(Kernel.Rbf(0.1)($"va", $"vb"), 6).as("k_rbf"),
        round(Kernel.Laplacian(0.1)($"va", $"vb"), 6).as("k_laplacian"))
      .orderBy($"id_a", $"id_b")
  }

  /** m7: LIBSVM text round-trip (reference: psvm document.cc reader) —
    * embeddings are written as `label idx:val …` lines, read back through
    * the distributed LIBSVM reader, and summarized; the oracle computes
    * the same summary straight from the parquet table, so any
    * serialization loss would hash-mismatch. The read is sized by the
    * embedding width, so it skips its size pass over the text (the
    * padding zeros leave the feature sums as they are). */
  def libsvmRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val embeddings = Tables.embeddings(spark, dir)
    val e = embeddings
      .select($"vec_id", $"label".cast("double").as("label"),
              VectorOps.toDoubleArray($"embedding").as("vec"))
    val dim = embeddings.agg(max(size($"embedding"))).head().getInt(0)
    graft.Scratch.collected("libsvm") { tmp =>
      LibSvmIO.write(e, "label", "vec", tmp)
      LibSvmIO.read(spark, tmp, numFeatures = dim)
        .groupBy($"label")
        .agg(count(lit(1)).as("n_rows"),
             round(sum(aggregate($"features", lit(0.0), (acc, x) => acc + x)), 6)
               .as("feature_mass"))
        .orderBy($"label")
    }
  }

  /** m1: end-to-end binary kernel SVM — train on embeddings with ±1
    * labels (label parity), persist the model, score the training set
    * with the RELOADED model, emit the confusion matrix + metrics.
    *
    * The iterative fit itself isn't SQL, but the fitted model is just
    * data — the query saves it under the model root and the DuckDB oracle
    * replays φ(x) = Wᵀ[k(x,lᵢ)] and w·φ(x)+b from the very same files
    * (the m10 technique), then recomputes the confusion matrix, so the
    * whole predict+persist+eval half is hash-verified. */
  def svmBinaryEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val data = Tables.embeddings(spark, dir)
      .withColumn("y", when($"label" % 2 === 0, 1.0).otherwise(-1.0))
    val fitted = KernelSvmTrainer.fit(data, "vec_id", "embedding", "y",
      KernelSvmParams(kernel = Kernel.Rbf(0.05), numLandmarks = 64,
                      regParam = 1e-3, maxIter = 10, tol = 1e-4))
    fitted.save(spark, s"${ModelOracles.modelRoot(dir)}/m1_nystrom")
    val model = KernelSvmModel.load(spark, s"${ModelOracles.modelRoot(dir)}/m1_nystrom")
    SvmEvaluator.evaluate(model.predict(data, "embedding"), "y")
  }

  /** m3: one-vs-rest multiclass over the 10 labels; per-class accuracy.
    * The OVR model (shared Nyström map + per-class classifiers) persists
    * under the model root and the summary is computed from the
    * RELOADED model's deterministic argmax scoring, so the DuckDB oracle
    * replays every per-class decision and the argmax from the saved
    * files — predict/persist/eval hash-verified like m1/m5/m6. */
  def svmMulticlassEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val data = Tables.embeddings(spark, dir)
    val fitted = KernelSvmTrainer.fitMulticlassModel(data, "vec_id", "embedding", "label",
      KernelSvmParams(kernel = Kernel.Rbf(0.05), numLandmarks = 64,
                      regParam = 1e-3, maxIter = 10, tol = 1e-4))
    fitted.save(spark, s"${ModelOracles.modelRoot(dir)}/m3_ovr")
    val model = MulticlassKernelSvmModel.load(spark, s"${ModelOracles.modelRoot(dir)}/m3_ovr")
    model.predict(data, "embedding")
      .groupBy($"label")
      .agg(count(lit(1)).as("n"),
           sum(when($"prediction_class" === $"label".cast("double"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("class_accuracy", round($"n_correct" / $"n", 6))
      .orderBy($"label")
  }

  /** m5: the exact-IPM training path end-to-end (reference ipm.cc):
    * Nyström features → SMW interior-point dual solve → primal recovery
    * → persist → reload → confusion matrix. Oracle-checked the same way
    * as m1: DuckDB rescores every row from the saved model files. */
  def svmIpmEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val data = Tables.embeddings(spark, dir)
      .withColumn("y", when($"label" % 2 === 0, 1.0).otherwise(-1.0))
    val fitted = KernelSvmTrainer.fitIpm(data, "vec_id", "embedding", "y",
      KernelSvmParams(kernel = Kernel.Rbf(0.05), numLandmarks = 32, tol = 1e-4),
      c = 5.0, maxIter = 60)
    fitted.save(spark, s"${ModelOracles.modelRoot(dir)}/m5_ipm")
    val model = KernelSvmModel.load(spark, s"${ModelOracles.modelRoot(dir)}/m5_ipm")
    SvmEvaluator.evaluate(model.predict(data, "embedding"), "y")
  }

  /** m6: the unabridged reference pipeline — greedy ICF of the RBF
    * kernel → SMW-IPM dual solve → support-vector model scored with the
    * original kernel, over the FULL embeddings table (the early rounds
    * capped this at 500 vectors; the fused IPM passes pay for the full
    * width). The SV model round-trips through the psvm-style text format
    * and the oracle replays every decision from the saved SV lines. */
  def svmIcfIpmEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val data = Tables.embeddings(spark, dir)
      .withColumn("yy", when($"label" % 2 === 0, 1.0).otherwise(-1.0))
    val fitted = IcfSvmTrainer.fit(data, "vec_id", "embedding", "yy",
      Kernel.Rbf(0.05), rank = 16, c = 5.0, maxIter = 40, tol = 1e-3)
    fitted.saveText(spark, s"${ModelOracles.modelRoot(dir)}/m6_icf")
    fitted.unpersist()
    val model = IcfSvmModel.loadText(spark, s"${ModelOracles.modelRoot(dir)}/m6_icf")
    // Scoring: predictQuantized — floor-picounit contributions, INTEGER
    // per-row sums (order-independent, so DuckDB replays the decisions
    // bit-exactly from the saved text model with one GROUP BY).
    // Evaluation scores a DETERMINISTIC 1-in-10 sample: exact-kernel
    // SV scoring is inherently O(n_eval·nSV) — psvm's svm_predict pays
    // the same per test row — so the driver row bounds n_eval; the
    // operator is unchanged (score everything = the same call without
    // the filter, at 10× the pairs). The sample is HASH-based (md5 of
    // the id, the p16 bucket idiom — not raw id modulo, which is safe
    // only while ids stay uncorrelated with labels), and the result row
    // carries n_eval so the sampling scope is visible in the artifact.
    val evalRows = data.filter(
      conv(substring(md5($"vec_id".cast("string")), 1, 8), 16, 10)
        .cast("long") % 10 === 0)
    SvmEvaluator.evaluate(model.predictQuantized(evalRows, "vec_id", "embedding"), "yy")
      .withColumn("n_eval", ($"tp" + $"fp" + $"tn" + $"fn").cast("long"))
      .withColumn("n_support_vectors", lit(model.numSupportVectors))
  }

  def specs: Seq[QuerySpec] = Seq(
    // m1/m5: the training queries persist their fitted Nyström model
    // under the model root and score with the RELOADED model, so the
    // oracle replays every decision from the saved files (m10 technique)
    // and recomputes the confusion matrix + metrics (m9 technique).
    QuerySpec("m1_svm_binary_eval", svmBinaryEval, Some(nystromEvalSql("m1_nystrom"))),
    QuerySpec("m2_kernel_values", kernelValues, Some(
      """SELECT id_a, id_b,
         round(dot, 6) AS k_linear,
         round(power(0.01 * dot + 1.0, 2), 6) AS k_poly,
         round(exp(-0.1 * sqd), 6) AS k_rbf,
         round(exp(-0.1 * l1d), 6) AS k_laplacian
         FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
               x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS sqd,
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
               x -> abs(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS l1d
           FROM embeddings a, embeddings b
           WHERE a.vec_id < 3 AND b.vec_id BETWEEN 3 AND 8) t
         ORDER BY id_a, id_b""")),
    // m3: OVR multiclass — replay φ(x) from the SHARED saved map, every
    // per-class decision from the classifiers table, and the argmax
    // (first maximal class wins, ascending order) per row.
    QuerySpec("m3_svm_multiclass_eval", svmMulticlassEval, Some(
      s"""WITH lm AS (
           SELECT array_agg(landmark ORDER BY idx) AS L
           FROM read_parquet('$PlaceholderRoot/m3_ovr/landmarks/*.parquet')),
         pr AS (
           SELECT array_agg(w_row ORDER BY idx) AS W
           FROM read_parquet('$PlaceholderRoot/m3_ovr/projection/*.parquet')),
         pp AS (
           SELECT gamma FROM read_parquet('$PlaceholderRoot/m3_ovr/params/*.parquet')),
         cls AS (
           SELECT class, weights, intercept
           FROM read_parquet('$PlaceholderRoot/m3_ovr/classifiers/*.parquet')),
         pts AS (
           SELECT vec_id, label, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS px
           FROM embeddings),
         kx AS (
           SELECT vec_id, label,
             list_transform(lm.L, l -> exp(-pp.gamma *
               list_sum(list_transform(list_zip(l, px), z -> (z[1] - z[2]) * (z[1] - z[2]))))) AS ks
           FROM pts, lm, pp),
         phi AS (
           SELECT kx.vec_id, kx.label,
             [list_sum([pr.W[i][j] * kx.ks[i] for i in range(1, len(kx.ks) + 1)])
              for j in range(1, len(pr.W[1]) + 1)] AS f
           FROM kx, pr),
         dec AS (
           SELECT phi.vec_id, phi.label, cls.class,
             list_sum([cls.weights[j] * phi.f[j] for j in range(1, len(cls.weights) + 1)])
               + cls.intercept AS d
           FROM phi, cls),
         pred AS (
           SELECT vec_id, label,
             (array_agg(class ORDER BY class))[
               list_position(array_agg(d ORDER BY class),
                             list_max(array_agg(d ORDER BY class)))] AS pc
           FROM dec GROUP BY vec_id, label)
         SELECT label, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pc = CAST(label AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           round(CAST(sum(CASE WHEN pc = CAST(label AS DOUBLE) THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS class_accuracy
         FROM pred GROUP BY label ORDER BY label""")),
    QuerySpec("m5_svm_ipm_eval", svmIpmEval, Some(nystromEvalSql("m5_ipm"))),
    // m6: ICF→IPM SV model, text-round-tripped; decisions replayed from
    // the saved SV lines with integer picounit sums, over the
    // deterministic hash-based 1-in-10 eval sample (md5-bucket rule, so
    // id-structured generators at other scales cannot bias the eval set).
    QuerySpec("m6_svm_icf_ipm_eval", svmIcfIpmEval, Some(svModelReplaySql("m6_icf",
      "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0") +
      ",\n         " + metricsTailSql(", (tp + fp + tn + fn) AS n_eval" +
        ", (SELECT CAST(count(*) AS BIGINT) FROM sv) AS n_support_vectors"))),
    QuerySpec("m7_libsvm_roundtrip", libsvmRoundtrip, Some(
      """SELECT CAST(label AS DOUBLE) AS label, count(*) AS n_rows,
         round(sum(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))), 6)
           AS feature_mass
         FROM embeddings
         GROUP BY 1
         ORDER BY 1""")))
}
