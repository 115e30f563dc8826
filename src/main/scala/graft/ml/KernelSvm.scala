package graft.ml

import org.apache.spark.ml.classification.LinearSVC
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField}
import graft.Materialize

/** §2.1 M7–M12: kernel SVM train / predict / persist / evaluate.
  *
  * PSVM pipeline (reference: svm_train.cc → icf.cc → ipm.cc →
  * svm_predict.cc) re-expressed Spark-first:
  *   kernel ≈ Nyström feature map (M6) → MLlib LinearSVC (distributed
  *   OWLQN on hinge loss — the dual-equivalent of the reference's IPM
  *   solve, but scaling as O(n·p) per pass with no driver-resident
  *   n-vectors) → broadcastable model scored as a codegen'd column.
  *
  * Labels follow the libsvm ±1 convention on input and output; they are
  * remapped to {0,1} only around the MLlib fit.
  */
/** `posWeight`/`negWeight` are per-class cost multipliers (libsvm `-wi`,
  * psvm weighted C) for imbalanced data: the +1/−1 class's errors are
  * weighted `posWeight`/`negWeight` in the primal fit, and the dual box
  * constraint becomes 0 ≤ αᵢ ≤ C·w_{yᵢ} in the IPM path. */
/** `maxFitRows` bounds the rows the ITERATIVE solver consumes (the
  * model is still scored/evaluated on everything): a `numLandmarks`-
  * dimensional linear model saturates statistically long before 10⁵
  * examples, but OWLQN's evaluation count GROWS on bigger/harder data —
  * measured 61× fit cost at 10× corpus with identical params. Above the
  * bound the fit set is a content-addressed hash sample (retry- and
  * partitioning-stable, the p16/p20 discipline), which is the
  * production shape at 100 TB: sample-fit, full-score. */
final case class KernelSvmParams(
    kernel: Kernel = Kernel.Rbf(0.1),
    numLandmarks: Int = 64,
    regParam: Double = 1e-3,
    maxIter: Int = 50,
    tol: Double = 1e-6,
    posWeight: Double = 1.0,
    negWeight: Double = 1.0,
    maxFitRows: Long = 50000L)

final case class KernelSvmModel(
    featureMap: NystromMap,
    weights: Array[Double],
    intercept: Double) extends Serializable {

  /** Adds `decision` (double) and `prediction` (±1) columns. */
  def predict(df: DataFrame, vecCol: String): DataFrame =
    KernelSvmModel.withDecision(
      Nystrom.transform(df, vecCol, featureMap, "__phi"), weights, intercept)

  /** Persist as a parquet model dir (reference: model.cc Save). */
  def save(spark: SparkSession, path: String): Unit =
    KernelSvmModel.save(spark, path, featureMap, weights, intercept)
}

object KernelSvmModel {
  /** Reload a model dir written by [[KernelSvmModel.save]]. */
  def load(spark: SparkSession, path: String): KernelSvmModel = {
    val (p, kernel, lm, w) = Nystrom.loadModel(spark, path)
    KernelSvmModel(NystromMap(denseLandmarks(lm), w, kernel),
      p.getSeq[Double](4).toArray, p.getAs[Double]("intercept"))
  }

  private[ml] def denseLandmarks(rows: Array[Row]): Array[Array[Double]] =
    rows.map(_.getSeq[Double](1).toArray)

  /** A binary model's params carry its `weights` and `intercept` after
    * the kernel fields. */
  private[ml] def save(spark: SparkSession, path: String, map: LandmarkMap,
                       weights: Array[Double], intercept: Double): Unit =
    Nystrom.saveModel(spark, path, map,
      StructField("weights", ArrayType(DoubleType, containsNull = false)) -> weights.toSeq,
      StructField("intercept", DoubleType, nullable = false) -> intercept)

  /** Adds `decision` = w·φ + b over the `__phi` column and `prediction`
    * (±1), and drops `__phi`. The decision is one reference-object node
    * (the single-class OvrDecisions), identical arithmetic to
    * dot_product(φ, array(lit…)) + lit(b). */
  private[ml] def withDecision(phi: DataFrame, weights: Array[Double],
                               intercept: Double): DataFrame =
    phi.withColumn("decision", element_at(graft.functions.CodebookExpressions.ovrDecisions(
        col("__phi"), Array(weights), Array(intercept)), 1))
      .withColumn("prediction", when(col("decision") >= 0, 1.0).otherwise(-1.0))
      .drop("__phi")
}

/** M12: one-vs-rest multiclass kernel SVM — ONE shared Nyström feature
  * map plus a (class → linear classifier) table. Sharing the map means
  * scoring computes φ(x) once for all K classes (K·p extra flops per
  * row instead of K feature maps), and the whole model persists as the
  * usual landmarks/projection parquet plus one `classifiers` table.
  *
  * Prediction is argmax over the per-class decision values with the
  * FIRST maximal class winning ties (classes are scored in ascending
  * label order) — deterministic and exactly replayable by an external
  * engine via first-position-of-max list ops. */
final case class MulticlassKernelSvmModel(
    featureMap: NystromMap,
    classes: Array[Double],          // ascending class labels
    weights: Array[Array[Double]],   // per class, aligned with `classes`
    intercepts: Array[Double]) extends Serializable {

  /** Adds `prediction_class` (the argmax class label) over `vecCol`. */
  def predict(df: DataFrame, vecCol: String): DataFrame = {
    val phi = Nystrom.transform(df, vecCol, featureMap, "__phi")
    // ONE reference-object expression instead of classes × rank literal
    // nodes (the codebook-expression treatment; same DotProduct
    // accumulation order + post-sum intercept, so decisions and the
    // argmax below are bit-identical to the literal form)
    val decisions = graft.functions.CodebookExpressions.ovrDecisions(
      col("__phi"), weights, intercepts)
    phi.withColumn("__ds", decisions)
      .withColumn("prediction_class",
        element_at(array(classes.map(lit): _*),
          array_position(col("__ds"), array_max(col("__ds"))).cast("int")))
      .drop("__phi", "__ds")
  }

  /** Persist: shared map like [[KernelSvmModel.save]] + a per-class
    * classifier table. */
  def save(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    Nystrom.saveModel(spark, path, featureMap)
    classes.indices.map { i => (classes(i), weights(i).toSeq, intercepts(i)) }
      .toDF("class", "weights", "intercept")
      .write.mode("overwrite").parquet(s"$path/classifiers")
  }
}

object MulticlassKernelSvmModel {
  /** Reload a model dir written by [[MulticlassKernelSvmModel.save]]. */
  def load(spark: SparkSession, path: String): MulticlassKernelSvmModel = {
    val (_, kernel, lm, w) = Nystrom.loadModel(spark, path)
    val cls = spark.read.parquet(s"$path/classifiers").orderBy("class")
      .collect()
      .map(r => (r.getDouble(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    MulticlassKernelSvmModel(NystromMap(KernelSvmModel.denseLandmarks(lm), w, kernel),
      cls.map(_._1), cls.map(_._2), cls.map(_._3))
  }
}

object KernelSvmTrainer {

  /** Partition count for a cached iterative-fit feature table: ~2.5k
    * rows per task, floored at 1 and capped at the session's default
    * parallelism. The old ~50k-rows-per-task target collapsed a 20k-row
    * set onto ONE partition, so every OWLQN iteration of every
    * (possibly concurrent) fit ran single-threaded — measured 16×
    * super-linear on the OVR fit at 10× data. The lower target still
    * amortizes scheduler overhead (a task is ~ms at 2.5k×97 doubles)
    * while letting treeAggregate use the cores; at cluster scale the
    * parallelism cap is what binds, which is the right regime. Callers
    * pair this with repartition (NOT coalesce: a single-file parquet
    * source arrives as 1-2 partitions and coalesce can only shrink). */
  private[ml] def fitPartitions(df: DataFrame, n: Long): Int = {
    val cap = df.sparkSession.sparkContext.defaultParallelism
    math.max(1, math.min(cap, (n / 2500L).toInt + 1))
  }

  /** Bound the solver's input per [[KernelSvmParams.maxFitRows]]:
    * content-addressed keep-gate on the id column (identical discipline
    * to p16/p20 — stable under retries and repartitioning, no
    * sample()'s partition-dependent RNG). Returns (fitDf, fitN). */
  private[ml] def boundFitRows(df: DataFrame, idCol: String, n: Long,
                               maxFitRows: Long): (DataFrame, Long) =
    if (n <= maxFitRows) (df, n)
    else {
      val keepPM = math.max(1L, maxFitRows * 1000000L / n)
      (df.filter(pmod(xxhash64(col(idCol)), lit(1000000L)) < lit(keepPM)),
        maxFitRows)
    }

  /** The one LinearSVC fit (hinge loss with intercept) of every
    * Nyström trainer: `feats` carries `__features` (vector) and
    * `__label01` (0/1), and `__weight` when `weighted`. Returns
    * (weights, intercept). */
  private[ml] def fitLinear(feats: DataFrame, regParam: Double, maxIter: Int,
                            tol: Double, weighted: Boolean = false): (Array[Double], Double) = {
    val svc = new LinearSVC()
      .setFeaturesCol("__features").setLabelCol("__label01")
      .setRegParam(regParam).setMaxIter(maxIter)
      .setTol(tol).setFitIntercept(true)
    if (weighted) svc.setWeightCol("__weight")
    val m = svc.fit(feats)
    (m.coefficients.toArray, m.intercept)
  }

  /** The binary primal fit of the dense and sparse trainers: bound the
    * rows, attach φ as `__phi` with `phi`, and fit LinearSVC on ±1
    * labels with the per-class weights. The feature table is compacted
    * for the iterative OWLQN fit (scheduler overhead per micro-task
    * dominates when partitions are tiny) and cached so the feature map
    * runs once, not once per pass. */
  private[ml] def fitBinary(df: DataFrame, idCol: String, labelCol: String,
                            params: KernelSvmParams)(
      phi: DataFrame => DataFrame): (Array[Double], Double) = {
    val (fitDf, n) = boundFitRows(df, idCol, df.count(), params.maxFitRows)
    val feats = phi(fitDf)
      .withColumn("__features", array_to_vector(col("__phi")))
      .withColumn("__label01", when(col(labelCol) > 0, 1.0).otherwise(0.0))
      .withColumn("__weight",
        when(col(labelCol) > 0, params.posWeight).otherwise(params.negWeight))
      .repartition(fitPartitions(df, n))
    Materialize.scoped(feats)(fitLinear(feats, params.regParam, params.maxIter, params.tol,
      weighted = params.posWeight != 1.0 || params.negWeight != 1.0))
  }

  /** M8: fit a binary kernel SVM; labels in `labelCol` must be ±1. */
  def fit(df: DataFrame, idCol: String, vecCol: String, labelCol: String,
          params: KernelSvmParams = KernelSvmParams()): KernelSvmModel = {
    val map = Nystrom.fit(df, idCol, vecCol, params.kernel, params.numLandmarks)
    val (w, b) = fitBinary(df, idCol, labelCol, params)(
      Nystrom.transform(_, vecCol, map, "__phi"))
    KernelSvmModel(map, w, b)
  }

  /** M7 fidelity path: fit via the exact SMW interior-point dual solve
    * (reference: psvm ipm.cc) instead of the OWLQN primal. Recovers the
    * primal weights w = Σ αᵢyᵢφ(xᵢ) distributedly and the bias from the
    * free support vectors' KKT conditions. */
  def fitIpm(df: DataFrame, idCol: String, vecCol: String, labelCol: String,
             params: KernelSvmParams = KernelSvmParams(),
             c: Double = 1.0, maxIter: Int = 60): KernelSvmModel = {
    val map = Nystrom.fit(df, idCol, vecCol, params.kernel, params.numLandmarks)
    // the IPM loop runs over these blocks (in one task when they are one)
    val feats = Nystrom.transform(df, vecCol, map, "__phi")
      .coalesce(Ipm.blockCount(df.count(), df.rdd.getNumPartitions))
    val ipm = Ipm.solve(feats, idCol, labelCol, "__phi", c,
      maxIter = maxIter, tol = params.tol,
      posWeight = params.posWeight, negWeight = params.negWeight)
    // w and b over the solution's blocks; free SVs: strictly inside the
    // box, whose upper bound is the per-class C when class weights are set
    val eps = 1e-3 * c
    val kkt = IcfSvmTrainer.primal(ipm.blocks, map.rank)(_._2, free = (a, y) => a > eps &&
      a < c * (if (y > 0) params.posWeight else params.negWeight) - eps)(_ => Array.empty[Unit])
    kkt.cached.foreach(_.unpersist(false))
    ipm.release()
    KernelSvmModel(map, kkt.w, kkt.bias)
  }

  /** M12 (model form): one-vs-rest multiclass with ONE shared Nyström
    * map and per-class LinearSVC fits run concurrently (classes are
    * independent). Returns a persistable [[MulticlassKernelSvmModel]]
    * whose scoring is deterministic. */
  def fitMulticlassModel(df: DataFrame, idCol: String, vecCol: String,
                         labelCol: String,
                         params: KernelSvmParams = KernelSvmParams(),
                         parallelism: Int = 8): MulticlassKernelSvmModel = {
    val map = Nystrom.fit(df, idCol, vecCol, params.kernel, params.numLandmarks)
    val (fitDf, n) = boundFitRows(df, idCol, df.count(), params.maxFitRows)
    val parts = fitPartitions(df, n)
    val feats = Nystrom.transform(fitDf, vecCol, map, "__phi")
      .withColumn("__features", array_to_vector(col("__phi")))
      .withColumn("__cls", col(labelCol).cast("double"))
      .repartition(parts)
    // class list from the FULL input, not the fit sample — a class must
    // appear in the model's argmax surface even if the hash gate thinned
    // it (bounded collect: one value per class)
    val classes = df.select(col(labelCol).cast("double").as("__cls")).distinct()
      .collect().map(_.getDouble(0)).sorted
    val models = Materialize.scoped(feats) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, classes.length))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      // try/finally: a failed per-class fit must still shut the (non-
      // daemon) pool down, or the JVM never exits
      try {
        val fits = classes.map { k =>
          scala.concurrent.Future {
            fitLinear(feats.withColumn("__label01",
              when(col("__cls") === k, 1.0).otherwise(0.0)),
              params.regParam, params.maxIter, params.tol)
          }
        }
        fits.map(f =>
          scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
    }
    MulticlassKernelSvmModel(map, classes, models.map(_._1), models.map(_._2))
  }
}

/** §2.1 M11: binary classification evaluation (reference: svm_predict
  * accuracy output), extended with precision/recall/F1. */
object SvmEvaluator {

  /** One-row DataFrame: tp/fp/tn/fn + accuracy/precision/recall/f1.
    * Expects ±1 in both columns. The four counts are `sum`s of one
    * projection of indicator columns. When that projection's optimized
    * plan is a `LocalRelation` (a `scored` frame held on the driver, such
    * as the streamed layout's result), Spark's `ConvertToLocalRelation`
    * has evaluated it on the driver — the same SQL semantics for nulls,
    * NaN and types — and the driver adds the indicators up, so neither
    * this nor an action on the result runs a job; otherwise the counts
    * are one aggregate over `scored`. */
  def evaluate(scored: DataFrame, labelCol: String,
               predictionCol: String = "prediction"): DataFrame = {
    val y = col(labelCol); val p = col(predictionCol)
    val flags = scored.select(
      when(y > 0 && p > 0, 1L).otherwise(0L).as("tp"),
      when(y <= 0 && p > 0, 1L).otherwise(0L).as("fp"),
      when(y <= 0 && p <= 0, 1L).otherwise(0L).as("tn"),
      when(y > 0 && p <= 0, 1L).otherwise(0L).as("fn"))
    val agg = flags.agg(sum("tp").as("tp"), sum("fp").as("fp"), sum("tn").as("tn"),
      sum("fn").as("fn"))
    val counts = flags.queryExecution.optimizedPlan match {
      case _: LocalRelation =>
        val rows = flags.collect()
        // `sum` over no rows is null
        val sums = Seq.tabulate(4)(i => if (rows.isEmpty) null else rows.map(_.getLong(i)).sum)
        scored.sparkSession.createDataFrame(java.util.List.of(Row.fromSeq(sums)), agg.schema)
      case _ => agg
    }
    // ANSI mode errors on ANY zero divisor (even double); degenerate
    // models (all-one-class predictions) make these denominators zero,
    // so every ratio is guarded and defaults to 0.0
    val (tp, fp, tn, fn) = (col("tp"), col("fp"), col("tn"), col("fn"))
    def ratio(num: Column, den: Column): Column =
      round(when(den > 0, num.cast("double") / den.cast("double")).otherwise(0.0), 6)
    val precision = ratio(tp, tp + fp)
    val recall = ratio(tp, tp + fn)
    counts.select(tp, fp, tn, fn,
      round((tp + tn).cast("double") / (tp + tn + fp + fn).cast("double"), 6).as("accuracy"),
      precision.as("precision"), recall.as("recall"),
      round(when(precision + recall > 0,
        lit(2.0) * precision * recall / (precision + recall)).otherwise(0.0), 6).as("f1"))
  }
}
