package graft.ml

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}
import ModelOracles.PlaceholderRoot

/** m12: k-fold cross-validated grid search — the reference ecosystem's
  * standard hyper-parameter workflow (libsvm's grid search over C,
  * driven here over the regularization grid of the Nyström-LinearSVC
  * trainer).
  *
  * Fold assignment is content-addressed (md5 of the row key), so folds
  * are stable under repartitioning/retries and exactly replayable.
  * The Nyström feature map is fit ONCE on the full training pool and
  * shared across all (param, fold) fits — the map is label-free, and
  * sharing it keeps the grid cost at |grid|·|folds| linear fits over a
  * cached feature table instead of re-landmarking per cell; fits run
  * concurrently (they are independent), mirroring fitMulticlassModel.
  * (Recorded trade-off: fitting the map on the full pool includes each
  * fold's validation rows — mild transductive leakage into CV scores.
  * Harmless for the self-validation gate, which checks training
  * accuracy; if CV scores ever drive real model selection, fit the map
  * per-fold on training rows only.)
  *
  * Rows-only by design (iterative fits are not SQL), but SELF-VALIDATING:
  * the query fails fast unless (a) every row lands in exactly one fold,
  * (b) every validation slice is non-empty, and (c) some grid cell's
  * TRAINING accuracy clears the majority-class baseline. The gate is on
  * training, not validation, deliberately: the synthetic labels carry no
  * signal (held-out accuracy ≈ chance is the CORRECT answer here), but a
  * working fit must still beat chance on its own training subset — that
  * separates "CV loop broken" from "nothing to learn".
  */
object CrossVal {

  /** Content-addressed fold assignment — the ONE definition both the
    * grid query and its oracle-checked m12b twin use (the SQL replay in
    * SparkEntry mirrors it; keep them in sync). */
  private def foldCol(folds: Int): org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit("cv:"), col("vec_id").cast("string"))), 1, 8),
      16, 10).cast("long") % folds

  /** m12b: the fold assignment itself, oracle-checked — per (fold,
    * class-parity label) counts over the content-addressed md5 buckets.
    * This puts the deterministic half of the CV loop (the part that IS
    * SQL) under the hash gate, so the rows-only m12 grid runs on folds
    * the driver has independently verified. */
  def cvFoldsQuery(spark: SparkSession, dir: String, folds: Int = 3): DataFrame = {
    Tables.embeddings(spark, dir)
      .withColumn("fold", foldCol(folds))
      .withColumn("y", when(col("label") % 2 === 0, 1.0).otherwise(-1.0))
      .groupBy(col("fold"), col("y"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("fold"), col("y"))
  }

  /** One grid fit per (cell): per-cell LinearSVC weights + accuracies.
    * `weights`/`intercept` are persisted so the m12c replay twin (and
    * its DuckDB oracle) can recompute every accuracy from files. */
  private[ml] case class CellFit(reg: Double, fold: Int, nTrain: Long,
                                 nVal: Long, trainAcc: Double, valAcc: Double,
                                 weights: Array[Double], intercept: Double)

  // one grid fit per model root per JVM (m12 and m12c share it); the
  // fit also persists features + cells parquet for oracle replay
  private val gridCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[CellFit]]()

  def cvGridQuery(spark: SparkSession, dir: String,
                  folds: Int = 3, grid: Seq[Double] = Seq(1e-3, 1e-1),
                  numLandmarks: Int = 48, maxIter: Int = 8): DataFrame = {
    import spark.implicits._
    val results = fitGrid(spark, dir, folds, grid, numLandmarks, maxIter)
    val byParam = results.groupBy(_.reg).view.mapValues(rs =>
      rs.map(_.valAcc).sum / rs.length).toMap
    val best = byParam.maxBy { case (reg, acc) => (acc, -reg) }
    results.sortBy(r => (r.reg, r.fold))
      .map(r => (r.reg, r.fold, r.nTrain, r.nVal, r.trainAcc, r.valAcc))
      .toDF("reg_param", "fold", "n_train", "n_val", "train_accuracy", "val_accuracy")
      .withColumn("train_accuracy", round(col("train_accuracy"), 6))
      .withColumn("val_accuracy", round(col("val_accuracy"), 6))
      .withColumn("is_best_param", col("reg_param") === best._1)
  }

  private def fitGrid(spark: SparkSession, dir: String,
                      folds: Int, grid: Seq[Double],
                      numLandmarks: Int, maxIter: Int): Seq[CellFit] =
    gridCache.computeIfAbsent(ModelOracles.modelRoot(dir), _ =>
      fitGridUncached(spark, dir, folds, grid, numLandmarks, maxIter))

  private def fitGridUncached(spark: SparkSession, dir: String,
                              folds: Int, grid: Seq[Double],
                              numLandmarks: Int, maxIter: Int): Seq[CellFit] = {
    import spark.implicits._
    val data = Tables.embeddings(spark, dir)
      .withColumn("y", when(col("label") % 2 === 0, 1.0).otherwise(-1.0))
    val fold = foldCol(folds).cast("int")
    val map = Nystrom.fit(data, "vec_id", "embedding", Kernel.Rbf(0.05), numLandmarks)
    val feats = Nystrom.transform(data.withColumn("__fold", fold), "embedding", map, "__phi")
      .withColumn("__features", array_to_vector(col("__phi")))
      .withColumn("__label01", when(col("y") > 0, 1.0).otherwise(0.0))
      .select(col("vec_id"), col("__fold"), col("__phi"), col("__features"), col("__label01"))
      .coalesce(1)
    Materialize.scoped(feats) {
      val total = feats.count()
      val foldSizes = feats.groupBy(col("__fold")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      require(foldSizes.keys.forall(f => f >= 0 && f < folds) &&
              foldSizes.values.sum == total && foldSizes.size == folds,
        s"fold partition broken: $foldSizes over $total rows")
      // positives per fold: lets each cell be gated against ITS OWN train
      // subset's majority (a skewed fold can push a train subset's majority
      // below the pool's, and a constant predictor legitimately scores
      // exactly the subset majority)
      val posByFold = feats.filter(col("__label01") === 1.0)
        .groupBy(col("__fold")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
      val totalPos = posByFold.values.sum
      def trainMajority(heldOutFold: Int): Double = {
        val n = total - foldSizes(heldOutFold)
        val pos = totalPos - posByFold(heldOutFold)
        math.max(pos, n - pos).toDouble / n
      }

      val combos = for (reg <- grid; f <- 0 until folds) yield (reg, f)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(8, combos.length))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val results =
        try {
          val futs = combos.map { case (reg, f) =>
            scala.concurrent.Future {
              val train = feats.filter(col("__fold") =!= f)
              val valid = feats.filter(col("__fold") === f)
              val (weights, intercept) =
                KernelSvmTrainer.fitLinear(train, reg, maxIter, tol = 1e-4)
              // score via the codegen dot product over the ARRAY column,
              // not the fitted model's transform: it drags its
              // trainingSummary → SparkSession into the transform task
              // closure, which serializes only until anything touches the
              // session's lazily-created (non-serializable)
              // ObservationManager — u15's observe() in the same JVM made
              // that a real crash. Margin semantics are identical
              // (sequential accumulation, prediction = margin > 0), so
              // the persisted-artifact replay is unaffected.
              val margin = graft.functions.GraftFunctions.dot_product(
                col("__phi"), typedlit(weights)) + intercept
              val predCol = when(margin > lit(0.0), 1.0).otherwise(0.0)
              def acc(df: DataFrame): (Long, Double) = {
                val a = df.agg(
                  count(lit(1)).as("n"),
                  sum(when(predCol === col("__label01"), 1L).otherwise(0L)).as("ok"))
                  .head()
                (a.getLong(0), a.getLong(1).toDouble / a.getLong(0))
              }
              val (nTrain, trainAcc) = acc(train)
              val (nVal, valAcc) = acc(valid)
              CellFit(reg, f, nTrain, nVal, trainAcc, valAcc, weights, intercept)
            }
          }
          val rs = futs.map(x =>
            scala.concurrent.Await.result(x, scala.concurrent.duration.Duration.Inf))
          // persist the replayable artifacts BEFORE unpersisting the
          // feature table: per-row φ features + per-cell weights, the
          // complete inputs to every fold accuracy (m12c + its oracle)
          val rootPath = ModelOracles.modelRoot(dir)
          feats.select(col("vec_id"), col("__fold").as("fold"),
              col("__label01").as("label01"), col("__phi").as("phi"))
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$rootPath/m12_cv/features")
          rs.map(r => (r.reg, r.fold, r.weights.toSeq, r.intercept))
            .toDF("reg_param", "fold", "weights", "intercept")
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$rootPath/m12_cv/cells")
          rs
        } finally pool.shutdown()

      require(results.forall(_.nVal > 0), "empty validation fold")
      require(results.exists(r => r.trainAcc >= trainMajority(r.fold)),
        "no grid cell reaches even its own train-subset majority baseline in " +
          s"TRAINING (train accuracies: ${results.map(_.trainAcc).mkString(", ")}) — CV loop broken")
      results
    }
  }

  /** m12c: the CV grid's fold accuracies REPLAYED from the persisted
    * artifacts — per-row φ features and per-cell (weights, intercept) —
    * using the explicit margin Σⱼ wⱼ·φⱼ + b, prediction = margin > 0.
    * Spark and the DuckDB oracle both compute from the SAME files with
    * the same index-ascending summation, so the driver hash-checks every
    * fold accuracy end-to-end (the m8/m10 persist-and-replay pattern);
    * this closes the gate VERDICT r04 flagged as m12's missing half. */
  def cvReplayQuery(spark: SparkSession, dir: String): DataFrame = {
    // make sure the artifacts exist (no-op if m12 already ran this JVM)
    fitGrid(spark, dir, 3, Seq(1e-3, 1e-1), 48, 8)
    val rootPath = ModelOracles.modelRoot(dir)
    val cells = spark.read.parquet(s"$rootPath/m12_cv/cells")
    val feats = spark.read.parquet(s"$rootPath/m12_cv/features")
      .withColumnRenamed("fold", "rfold")
    val margin = expr(
      "aggregate(zip_with(weights, phi, (w, p) -> w * p), 0D, (acc, x) -> acc + x)") +
      col("intercept")
    val isTrain = col("rfold") =!= col("fold")
    val isVal = col("rfold") === col("fold")
    val okCol = col("pred") === col("label01")
    cells.crossJoin(feats)   // |grid|·|folds| cells × bounded eval panel
      .withColumn("pred", when(margin > 0, 1.0).otherwise(0.0))
      .groupBy(col("reg_param"), col("fold"))
      .agg(
        sum(when(isTrain, 1L).otherwise(0L)).as("n_train"),
        sum(when(isVal, 1L).otherwise(0L)).as("n_val"),
        round(sum(when(isTrain && okCol, 1L).otherwise(0L)).cast("double") /
          sum(when(isTrain, 1L).otherwise(0L)), 6).as("train_accuracy"),
        round(sum(when(isVal && okCol, 1L).otherwise(0L)).cast("double") /
          sum(when(isVal, 1L).otherwise(0L)), 6).as("val_accuracy"))
      .orderBy(col("reg_param"), col("fold"))
  }

  def specs: Seq[QuerySpec] = Seq(
    // m12: the FULL grid query replayed from the same persisted
    // artifacts m12c reads — every cell accuracy recomputed from
    // (φ, weights, intercept) files, plus the model-selection argmax:
    // best param = highest fold-ordered mean of the UNROUNDED val
    // accuracies, ties to the smaller reg (exactly cvGridQuery's
    // maxBy on (acc, -reg); the fold-ordered list_reduce mirrors
    // Scala's sequential Seq.sum so the mean is bit-identical).
    QuerySpec("m12_cv_grid", (s, d) => cvGridQuery(s, d), Some(
      s"""WITH cells AS (
           SELECT reg_param, fold, weights, intercept
           FROM read_parquet('$PlaceholderRoot/m12_cv/cells/*.parquet')),
         feats AS (
           SELECT vec_id, fold AS rfold, label01, phi
           FROM read_parquet('$PlaceholderRoot/m12_cv/features/*.parquet')),
         scored AS (
           SELECT c.reg_param, c.fold, f.rfold, f.label01,
             CASE WHEN list_sum([c.weights[j] * f.phi[j]
                                 for j in range(1, len(c.weights) + 1)])
                    + c.intercept > 0
                  THEN 1.0 ELSE 0.0 END AS pred
           FROM cells c, feats f),
         acc AS (
           SELECT reg_param, fold,
             CAST(sum(CASE WHEN rfold <> fold THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
             CAST(sum(CASE WHEN rfold = fold THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
             CAST(sum(CASE WHEN rfold <> fold AND pred = label01 THEN 1 ELSE 0 END) AS DOUBLE)
               / sum(CASE WHEN rfold <> fold THEN 1 ELSE 0 END) AS train_acc_raw,
             CAST(sum(CASE WHEN rfold = fold AND pred = label01 THEN 1 ELSE 0 END) AS DOUBLE)
               / sum(CASE WHEN rfold = fold THEN 1 ELSE 0 END) AS val_acc_raw
           FROM scored GROUP BY reg_param, fold),
         best AS (
           SELECT reg_param FROM (
             SELECT reg_param,
               list_reduce(list(val_acc_raw ORDER BY fold), (a, x) -> a + x)
                 / count(*) AS avg_acc
             FROM acc GROUP BY reg_param)
           ORDER BY avg_acc DESC, reg_param ASC LIMIT 1)
         SELECT reg_param, fold, n_train, n_val,
           round(train_acc_raw, 6) AS train_accuracy,
           round(val_acc_raw, 6) AS val_accuracy,
           reg_param = (SELECT reg_param FROM best) AS is_best_param
         FROM acc ORDER BY reg_param, fold""")),
    // m12b: replay the content-addressed fold assignment.
    QuerySpec("m12b_cv_folds", (s, d) => cvFoldsQuery(s, d), Some(
      """SELECT fold, y, CAST(count(*) AS BIGINT) AS n
         FROM (
           SELECT CAST(('0x' || substring(md5('cv:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 3 AS fold,
             CASE WHEN label % 2 = 0 THEN 1.0 ELSE -1.0 END AS y
           FROM embeddings) t
         GROUP BY fold, y ORDER BY fold, y""")),
    // m12c: replay every CV fold accuracy from the persisted artifacts —
    // per-row φ features + per-cell LinearSVC (weights, intercept) —
    // margin = Σⱼ wⱼ·φⱼ + b in the same index-ascending order Spark uses.
    QuerySpec("m12c_cv_replay", (s, d) => cvReplayQuery(s, d), Some(
      s"""WITH cells AS (
           SELECT reg_param, fold, weights, intercept
           FROM read_parquet('$PlaceholderRoot/m12_cv/cells/*.parquet')),
         feats AS (
           SELECT vec_id, fold AS rfold, label01, phi
           FROM read_parquet('$PlaceholderRoot/m12_cv/features/*.parquet')),
         scored AS (
           SELECT c.reg_param, c.fold, f.rfold, f.label01,
             CASE WHEN list_sum([c.weights[j] * f.phi[j]
                                 for j in range(1, len(c.weights) + 1)])
                    + c.intercept > 0
                  THEN 1.0 ELSE 0.0 END AS pred
           FROM cells c, feats f)
         SELECT reg_param, fold,
           CAST(sum(CASE WHEN rfold <> fold THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN rfold = fold THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
           round(CAST(sum(CASE WHEN rfold <> fold AND pred = label01 THEN 1 ELSE 0 END) AS DOUBLE)
             / sum(CASE WHEN rfold <> fold THEN 1 ELSE 0 END), 6) AS train_accuracy,
           round(CAST(sum(CASE WHEN rfold = fold AND pred = label01 THEN 1 ELSE 0 END) AS DOUBLE)
             / sum(CASE WHEN rfold = fold THEN 1 ELSE 0 END), 6) AS val_accuracy
         FROM scored GROUP BY reg_param, fold ORDER BY reg_param, fold""")))
}
