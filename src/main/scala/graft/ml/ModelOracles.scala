package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}
import graft.functions.VectorOps

/** Driver-visible queries that make the PREDICT half of the ML surface
  * oracle-checkable (reference: psvm svm_predict.cc decision values).
  *
  * Training is iterative and seeded — not SQL — but a TRAINED model is
  * just data: (sv_x, sv_coef) rows + bias for the SV form, or
  * (landmarks, projection, weights, intercept) for the Nyström form. The
  * queries here fit once per (dataset, JVM), persist the model under
  * [[modelRoot]], reload it through the public load path, and score a
  * held-out slice; the DuckDB oracle replays f(x) from the very same
  * saved files. SV models score through [[IcfSvmModel.predictQuantized]]
  * (integer picounit sums, which the oracle replays with one GROUP BY);
  * Nyström models through their codegen'd score column, which the oracle
  * replays with list-op sums in the same sequential-double order (the
  * technique proven bit-exact by the m2/p5 queries). A green row
  * therefore certifies save → load → score end-to-end, not just "rows
  * came back".
  */
object ModelOracles {

  /** Model root, `<scratch root>/models/<sf dir name>` ([[graft.Scratch]]):
    * one per process, so two runs on one host never share the files, and
    * scoped by dataset, so a run at another SF never clobbers the files
    * the sf0.01 oracles read. Every oracle SQL names the saved files under
    * [[PlaceholderRoot]], which Verify rewrites to this path; it runs the
    * Spark queries first and keeps the models past its exit, so the
    * DuckDB replay finds them. */
  def modelRoot(dir: String): String =
    s"${graft.Scratch.models}/${new java.io.File(dir).getName}"

  /** The model root the oracle SQL names, for Verify to rewrite to
    * [[modelRoot]]; every oracle interpolates it, none spells it out. */
  final val PlaceholderRoot = "/tmp/graft_models/sf0.01"

  // one fit per (path-key, sf dir) per JVM: Verify and Bench each score
  // the same persisted model rather than re-fitting per query
  private val icfModels = new java.util.concurrent.ConcurrentHashMap[String, IcfSvmModel]()
  private val nysModels = new java.util.concurrent.ConcurrentHashMap[String, KernelSvmModel]()
  private val icfFactors = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** ±1 labels from label parity — the same derivation the m1/m5/m6
    * training queries use. */
  private def labeled(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("y", when(col("label") % 2 === 0, 1.0).otherwise(-1.0))

  /** Train slice: first 300 vectors (present at every sf). */
  private def trainSlice(spark: SparkSession, dir: String): DataFrame =
    labeled(spark, dir).filter(col("vec_id") < 300)

  /** Held-out scoring slice: vectors 300–399 — disjoint from training. */
  private def heldOut(spark: SparkSession, dir: String): DataFrame =
    labeled(spark, dir).filter(col("vec_id") >= 300 && col("vec_id") < 400)

  /** Fit + saveText + loadText an ICF-SVM model (fixed seed/params).
    * Returns the RELOADED model, so every downstream score certifies the
    * text round-trip. */
  def icfModel(spark: SparkSession, dir: String): IcfSvmModel =
    icfModels.computeIfAbsent(dir, _ => {
      val m = IcfSvmTrainer.fit(trainSlice(spark, dir), "vec_id", "embedding", "y",
        Kernel.Rbf(0.05), rank = 16, c = 5.0, maxIter = 40, tol = 1e-3)
      m.saveText(spark, s"${modelRoot(dir)}/m8_icf")
      m.unpersist()
      IcfSvmModel.loadText(spark, s"${modelRoot(dir)}/m8_icf")
    })

  /** Fit + save + load a Nyström kernel-SVM model (parquet form). */
  def nystromModel(spark: SparkSession, dir: String): KernelSvmModel =
    nysModels.computeIfAbsent(dir, _ => {
      // maxIter 10: the oracle replays whatever model got SAVED, so fit
      // quality doesn't affect correctness — half the OWLQN iterations
      // halves the query's fixed MLlib overhead (this was the bench's
      // most expensive new query at maxIter 20)
      val m = KernelSvmTrainer.fit(trainSlice(spark, dir), "vec_id", "embedding", "y",
        KernelSvmParams(kernel = Kernel.Rbf(0.05), numLandmarks = 64,
                        regParam = 1e-3, maxIter = 10, tol = 1e-4))
      m.save(spark, s"${modelRoot(dir)}/m10_nystrom")
      KernelSvmModel.load(spark, s"${modelRoot(dir)}/m10_nystrom")
    })

  /** ICF factor H (rank 8, first 200 vectors), persisted under the
    * model root and read BACK from parquet — both engines then score the
    * identical doubles. */
  def icfH(spark: SparkSession, dir: String): DataFrame =
    icfFactors.computeIfAbsent(dir, _ =>
      writeFactor(spark, s"${modelRoot(dir)}/m4_icf_h", Icf.factorize(
        Tables.embeddings(spark, dir).filter(col("vec_id") < 200),
        "vec_id", "embedding", Kernel.Rbf(0.05), rank = 8)))

  /** Writes `f`'s rows to parquet at `path`, releases the factor's cache
    * and reads the rows back: the session keeps only the parquet. */
  private[ml] def writeFactor(spark: SparkSession, path: String, f: Icf.Factor[_]): DataFrame = {
    try f.rows.write.mode("overwrite").parquet(path) finally f.release()
    spark.read.parquet(path)
  }

  /** Single-slot, last-dir-wins: file and in-memory (A, B) must move
    * together (the paths are now sf-scoped, but the slot also guards
    * against an interleaving refit racing the parquet write). */
  private val plattModel =
    new java.util.concurrent.atomic.AtomicReference[(String, Platt.PlattModel)]()

  /** m11: Platt probability calibration over the text-round-tripped
    * ICF-SVM model's decisions (the standard probabilistic-output layer
    * the reference's raw decision values feed into). The sigmoid (A, B)
    * is fit on the TRAINING slice with the distributed Newton solver and
    * persisted; held-out rows then carry calibrated P(y=+1). The oracle
    * replays every probability from the saved SV model + saved (A, B) —
    * fit quality never affects correctness, only the saved pair does. */
  def m11PlattProbs(spark: SparkSession, dir: String): DataFrame = {
    val model = icfModel(spark, dir)
    val pm = plattModel.get() match {
      case (d, m) if d == dir => m
      case _ => plattModel.synchronized {
        plattModel.get() match {
          case (d, m) if d == dir => m
          case _ =>
            val trainScored = model
              .predictQuantized(trainSlice(spark, dir), "vec_id", "embedding")
              .select(col("vec_id"), col("decision"), col("y"))
            val m = Platt.fit(trainScored, "decision", "y")
            import spark.implicits._
            Seq((m.a, m.b)).toDF("a", "b").coalesce(1)
              .write.mode("overwrite").parquet(s"${modelRoot(dir)}/m11_platt")
            plattModel.set((dir, m))
            m
        }
      }
    }
    model.predictQuantized(heldOut(spark, dir), "vec_id", "embedding")
      .select(col("vec_id"),
        round(col("decision"), 6).as("decision"),
        round(Platt.probability(col("decision"), pm), 6).as("prob_pos"),
        when(Platt.probability(col("decision"), pm) >= 0.5, 1.0).otherwise(-1.0)
          .as("prediction"))
      .orderBy(col("vec_id"))
  }

  /** m4c: the `rank_ratio` auto-rank path (psvm's flag: p = ⌈ratio·n⌉
    * capped, with residual early stop) made driver-visible — the chosen
    * rank and the whole-factor residuals, graded from the PERSISTED
    * factor exactly like m4b, so the early-stop logic itself is under
    * the oracle. */
  def m4cIcfAutoRank(spark: SparkSession, dir: String): DataFrame = {
    val h = icfFactors.computeIfAbsent(dir + "#auto", _ =>
      writeFactor(spark, s"${modelRoot(dir)}/m4c_icf_auto", Icf.factorizeAuto(
        Tables.embeddings(spark, dir).filter(col("vec_id") < 200),
        "vec_id", "embedding", Kernel.Rbf(0.05),
        rankRatio = 0.08, maxRank = 12, residualTol = 1e-6)))
    val r = h.select(col("id"),
      org.apache.spark.sql.functions.size(col("icf_features")).cast("long").as("rank"),
      (lit(1.0) - graft.functions.GraftFunctions.dot_product(
        col("icf_features"), col("icf_features"))).as("res"))
    r.agg(
        count(lit(1)).as("n_rows"),
        max(col("rank")).as("chosen_rank"),
        round(max(col("res")), 6).as("max_diag_residual"),
        round(aggregate(
          transform(sort_array(collect_list(struct(col("id"), col("res")))),
            s => s.getField("res")),
          lit(0.0), (acc, x) => acc + x), 6).as("trace_residual"))
  }

  /** m8: per-row decision values of the text-round-tripped ICF-SVM model
    * on the held-out slice (M9 predict + M10 save/load). */
  def m8ModelScore(spark: SparkSession, dir: String): DataFrame = {
    val model = icfModel(spark, dir)
    model.predictQuantized(heldOut(spark, dir), "vec_id", "embedding")
      .select(col("vec_id"), round(col("decision"), 6).as("decision"),
              col("prediction"))
      .orderBy(col("vec_id"))
  }

  /** m9: held-out confusion matrix + metrics of the same model (M11). */
  def m9ModelEval(spark: SparkSession, dir: String): DataFrame = {
    val model = icfModel(spark, dir)
    SvmEvaluator.evaluate(
      model.predictQuantized(heldOut(spark, dir), "vec_id", "embedding"), "y")
  }

  /** m10: per-row decisions of the parquet-round-tripped Nyström model —
    * the oracle replays φ(x) = Wᵀ[k(x,l₁)…k(x,lₘ)] and w·φ(x)+b from the
    * saved landmark/projection/params files. */
  def m10NystromScore(spark: SparkSession, dir: String): DataFrame = {
    val model = nystromModel(spark, dir)
    model.predict(heldOut(spark, dir), "embedding")
      .select(col("vec_id"), round(col("decision"), 6).as("decision"),
              col("prediction"))
      .orderBy(col("vec_id"))
  }

  /** m4 (rewritten): ICF reconstruction quality on a pair grid — exact
    * kernel values recomputed from the raw embeddings (non-circular)
    * against ⟨h_i, h_j⟩ from the persisted factor. */
  def m4IcfFactor(spark: SparkSession, dir: String): DataFrame = {
    val h = icfH(spark, dir)
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < 20)
      .select(col("vec_id"), VectorOps.toDoubleArray(col("embedding")).as("x"))
    val a = e.select(col("vec_id").as("id_a"), col("x").as("xa"))
      .join(h.select(col("id").as("id_a"), col("icf_features").as("ha")), Seq("id_a"))
    val b = e.select(col("vec_id").as("id_b"), col("x").as("xb"))
      .join(h.select(col("id").as("id_b"), col("icf_features").as("hb")), Seq("id_b"))
    val kernel = Kernel.Rbf(0.05)
    a.join(b, col("id_a") <= col("id_b"))
      .withColumn("__ke", kernel(col("xa"), col("xb")))
      .withColumn("__ki", graft.functions.GraftFunctions.dot_product(col("ha"), col("hb")))
      .select(col("id_a"), col("id_b"),
        round(col("__ke"), 6).as("k_exact"),
        round(col("__ki"), 6).as("k_icf"),
        round(abs(col("__ke") - col("__ki")), 6).as("abs_err"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** m4b: whole-factor residual summary — max and (id-ordered, so
    * order-deterministic) trace of the diagonal residual
    * k(x_i,x_i) − ‖h_i‖² = 1 − ‖h_i‖² for RBF. */
  def m4bIcfResiduals(spark: SparkSession, dir: String): DataFrame = {
    val h = icfH(spark, dir)
    val r = h.select(col("id"),
      (lit(1.0) - graft.functions.GraftFunctions.dot_product(
        col("icf_features"), col("icf_features"))).as("res"))
    r.agg(
        count(lit(1)).as("n_rows"),
        round(max(col("res")), 6).as("max_diag_residual"),
        round(aggregate(
          transform(sort_array(collect_list(struct(col("id"), col("res")))),
            s => s.getField("res")),
          lit(0.0), (acc, x) => acc + x), 6).as("trace_residual"))
  }

  /** Shared confusion-matrix + metrics tail over a `dec(y, d)` CTE —
    * the exact SQL mirror of [[graft.ml.SvmEvaluator.evaluate]]. */
  private[ml] def metricsTailSql(extraSelect: String): String =
    s"""cm AS (
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
             ELSE 0.0 END, 6) AS f1$extraSelect
         FROM m"""

  /** DuckDB replay of a saved Nyström parquet model (landmarks /
    * projection / params dirs) scored over the FULL embeddings table
    * with parity labels, reduced to confusion matrix + metrics. */
  private[ml] def nystromEvalSql(model: String): String =
    s"""WITH lm AS (
           SELECT array_agg(landmark ORDER BY idx) AS L
           FROM read_parquet('$PlaceholderRoot/$model/landmarks/*.parquet')),
         pr AS (
           SELECT array_agg(w_row ORDER BY idx) AS W
           FROM read_parquet('$PlaceholderRoot/$model/projection/*.parquet')),
         pp AS (
           SELECT gamma, weights, intercept
           FROM read_parquet('$PlaceholderRoot/$model/params/*.parquet')),
         pts AS (
           SELECT vec_id, CASE WHEN label % 2 = 0 THEN 1.0 ELSE -1.0 END AS y,
                  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS px
           FROM embeddings),
         kx AS (
           SELECT vec_id, y,
             list_transform(lm.L, l -> exp(-pp.gamma *
               list_sum(list_transform(list_zip(l, px), z -> (z[1] - z[2]) * (z[1] - z[2]))))) AS ks
           FROM pts, lm, pp),
         phi AS (
           SELECT kx.vec_id, kx.y,
             [list_sum([pr.W[i][j] * kx.ks[i] for i in range(1, len(kx.ks) + 1)])
              for j in range(1, len(pp.weights) + 1)] AS f
           FROM kx, pr, pp),
         dec AS (
           SELECT phi.vec_id, phi.y,
             list_sum([pp.weights[j] * phi.f[j] for j in range(1, len(pp.weights) + 1)])
               + pp.intercept AS d
           FROM phi, pp),
         ${metricsTailSql("")}"""

  /** The held-out slice the m8/m9/m11 queries score ([[heldOut]]). */
  private val heldOutSql = "vec_id >= 300 AND vec_id < 400"

  /** DuckDB replay of a saved psvm-style TEXT SV model (RBF) over the
    * embeddings rows matching `ptsFilter`, with parity labels: every
    * per-SV term is floor-quantized to integer picounits and summed with
    * one GROUP BY — the IcfSvmModel.predictQuantized reduction, exact in
    * any order. Returns the WITH list up to `dec(vec_id, y, d)`; the
    * caller appends further CTEs (after a comma) and the final SELECT. */
  private[ml] def svModelReplaySql(model: String, ptsFilter: String): String =
    s"""WITH prm AS (
           SELECT CAST(regexp_extract(content, 'gamma ([^\\n]+)', 1) AS DOUBLE) AS gamma,
                  CAST(regexp_extract(content, 'rho ([^\\n]+)', 1) AS DOUBLE) AS rho
           FROM read_text('$PlaceholderRoot/$model/header/part-*')),
         sv AS (
           SELECT CAST(p[1] AS DOUBLE) AS coef,
                  list_transform(p[2:], t -> CAST(string_split(t, ':')[2] AS DOUBLE)) AS x
           FROM (
             SELECT string_split(line, ' ') AS p FROM (
               SELECT unnest(string_split(content, chr(10))) AS line
               FROM read_text('$PlaceholderRoot/$model/sv/part-*')) t
             WHERE length(line) > 0)),
         pts AS (
           SELECT vec_id, CASE WHEN label % 2 = 0 THEN 1.0 ELSE -1.0 END AS y,
                  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS px
           FROM embeddings
           WHERE $ptsFilter),
         contrib AS (
           SELECT pts.vec_id,
             CAST(floor(sv.coef * exp(-(SELECT gamma FROM prm) *
               list_sum(list_transform(list_zip(sv.x, pts.px),
                 z -> (z[1] - z[2]) * (z[1] - z[2])))) * 1e12) AS BIGINT) AS cq
           FROM pts, sv),
         ksum AS (
           SELECT vec_id, sum(cq) AS sq
           FROM contrib GROUP BY vec_id),
         dec AS (
           SELECT p.vec_id, p.y,
             CAST(COALESCE(k.sq, 0) AS DOUBLE) / 1e12 + -(SELECT rho FROM prm) AS d
           FROM pts p LEFT JOIN ksum k ON p.vec_id = k.vec_id)"""

  def specs: Seq[QuerySpec] = Seq(
    // m4/m4b: the exact kernel is recomputed from the raw embeddings
    // (non-circular); ⟨h_i,h_j⟩ comes from the persisted ICF factor both
    // engines read, so a green row proves the factorization actually
    // reconstructs K and the kernel math matches.
    QuerySpec("m4_icf_factor", m4IcfFactor, Some(
      s"""WITH h AS (
           SELECT id, icf_features
           FROM read_parquet('$PlaceholderRoot/m4_icf_h/*.parquet')),
         e AS (
           SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
           FROM embeddings WHERE vec_id < 20),
         g AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             exp(-0.05 * list_sum(list_transform(list_zip(a.x, b.x),
               z -> (z[1] - z[2]) * (z[1] - z[2])))) AS ke,
             list_sum(list_transform(list_zip(ha.icf_features, hb.icf_features),
               z -> z[1] * z[2])) AS ki
           FROM e a, e b, h ha, h hb
           WHERE a.vec_id <= b.vec_id AND ha.id = a.vec_id AND hb.id = b.vec_id)
         SELECT id_a, id_b, round(ke, 6) AS k_exact, round(ki, 6) AS k_icf,
                round(abs(ke - ki), 6) AS abs_err
         FROM g ORDER BY id_a, id_b""")),
    QuerySpec("m4b_icf_residuals", m4bIcfResiduals, Some(
      s"""WITH h AS (
           SELECT id, icf_features
           FROM read_parquet('$PlaceholderRoot/m4_icf_h/*.parquet')),
         r AS (
           SELECT id,
             1.0 - list_sum(list_transform(list_zip(icf_features, icf_features),
               z -> z[1] * z[2])) AS res
           FROM h)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                round(max(res), 6) AS max_diag_residual,
                round(list_sum(array_agg(res ORDER BY id)), 6) AS trace_residual
         FROM r""")),
    QuerySpec("m4c_icf_autorank", m4cIcfAutoRank, Some(
      s"""WITH h AS (
           SELECT id, icf_features
           FROM read_parquet('$PlaceholderRoot/m4c_icf_auto/*.parquet')),
         r AS (
           SELECT id, CAST(len(icf_features) AS BIGINT) AS rank,
             1.0 - list_sum(list_transform(list_zip(icf_features, icf_features),
               z -> z[1] * z[2])) AS res
           FROM h)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                max(rank) AS chosen_rank,
                round(max(res), 6) AS max_diag_residual,
                round(list_sum(array_agg(res ORDER BY id)), 6) AS trace_residual
         FROM r""")),
    // m8/m9: replay f(x) = Σ coef·k(sv,x) − rho from the TEXT model files
    // the Spark query saved (under the model root; Verify writes them before the
    // oracle runs) with predictQuantized's integer picounit sums.
    QuerySpec("m8_model_score", m8ModelScore, Some(svModelReplaySql("m8_icf", heldOutSql) +
        """ SELECT vec_id, round(d, 6) AS decision,
                CASE WHEN d >= 0 THEN 1.0 ELSE -1.0 END AS prediction
         FROM dec ORDER BY vec_id""")),
    QuerySpec("m9_model_eval", m9ModelEval, Some(svModelReplaySql("m8_icf", heldOutSql) + ",\n         " +
      metricsTailSql(""))),
    // m10: replay the Nystrom pipeline φ(x)=Wᵀ[k(x,l₁)…k(x,lₘ)],
    // f(x)=w·φ(x)+b from the saved parquet model, same fold order as the
    // codegen'd NystromFeatures expression.
    QuerySpec("m10_nystrom_score", m10NystromScore, Some(
      s"""WITH lm AS (
           SELECT array_agg(landmark ORDER BY idx) AS L
           FROM read_parquet('$PlaceholderRoot/m10_nystrom/landmarks/*.parquet')),
         pr AS (
           SELECT array_agg(w_row ORDER BY idx) AS W
           FROM read_parquet('$PlaceholderRoot/m10_nystrom/projection/*.parquet')),
         pp AS (
           SELECT gamma, weights, intercept
           FROM read_parquet('$PlaceholderRoot/m10_nystrom/params/*.parquet')),
         pts AS (
           SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS px
           FROM embeddings WHERE vec_id >= 300 AND vec_id < 400),
         kx AS (
           SELECT vec_id,
             list_transform(lm.L, l -> exp(-pp.gamma *
               list_sum(list_transform(list_zip(l, px), z -> (z[1] - z[2]) * (z[1] - z[2]))))) AS ks
           FROM pts, lm, pp),
         phi AS (
           SELECT kx.vec_id,
             [list_sum([pr.W[i][j] * kx.ks[i] for i in range(1, len(kx.ks) + 1)])
              for j in range(1, len(pp.weights) + 1)] AS f
           FROM kx, pr, pp),
         dec AS (
           SELECT phi.vec_id,
             list_sum([pp.weights[j] * phi.f[j] for j in range(1, len(pp.weights) + 1)])
               + pp.intercept AS d
           FROM phi, pp)
         SELECT vec_id, round(d, 6) AS decision,
                CASE WHEN d >= 0 THEN 1.0 ELSE -1.0 END AS prediction
         FROM dec ORDER BY vec_id""")),
    // m11: replay decisions from the saved SV text model (as m8) and
    // probabilities from the saved Platt (A, B) parquet.
    QuerySpec("m11_platt_probs", m11PlattProbs, Some(svModelReplaySql("m8_icf", heldOutSql) +
        s""",
         pl AS (SELECT a, b FROM read_parquet('$PlaceholderRoot/m11_platt/*.parquet'))
         SELECT vec_id, round(d, 6) AS decision,
           round(1.0 / (1.0 + exp(d * pl.a + pl.b)), 6) AS prob_pos,
           CASE WHEN 1.0 / (1.0 + exp(d * pl.a + pl.b)) >= 0.5
                THEN 1.0 ELSE -1.0 END AS prediction
         FROM dec, pl ORDER BY vec_id""")))
}
