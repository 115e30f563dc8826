package graft.ml

import org.apache.spark.ml.classification.LinearSVC
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.1 M16: the kernel-SVM train/predict/persist pipeline over SPARSE
  * feature rows — [[KernelSvmTrainer]] re-threaded through
  * [[SparseNystrom]] so nothing between the libsvm-style source and
  * the rank-dimensional φ table ever materializes a dense dim-length
  * vector (reference: psvm document.cc sparse rows — its rcv1-class
  * regime, where densifying would multiply the scan by dim/nnz ≈ 600×).
  *
  * The model persists exactly like [[KernelSvmModel]] but with sparse
  * landmarks ((indices, values) pairs); scoring is the same
  * W^T·k(x,·) → w·φ+b chain with the merge-join kernels, so the DuckDB
  * oracle replays decisions from the saved files (the m1 technique,
  * sparse edition — integer-count features make every kernel
  * distance an EXACT integer, so the replay needs no ordered-merge
  * emulation: ‖a−b‖² = ‖a‖² + ‖b‖² − 2⟨a,b⟩ holds exactly).
  */
final case class SparseKernelSvmModel(
    featureMap: SparseNystromMap,
    weights: Array[Double],
    intercept: Double) extends Serializable {

  /** Adds `decision` (double) and `prediction` (±1) columns over the
    * (idxCol, valCol) sparse pair. */
  def predict(df: DataFrame, idxCol: String, valCol: String): DataFrame = {
    SparseNystrom.transform(df, idxCol, valCol, featureMap, "__phi")
      .withColumn("decision",
        // one reference-object node, same arithmetic as
        // dot_product(φ, array(lit…)) + lit(b) (see KernelSvmModel)
        element_at(graft.functions.CodebookExpressions.ovrDecisions(
          col("__phi"), Array(weights), Array(intercept)), 1))
      .withColumn("prediction", when(col("decision") >= 0, 1.0).otherwise(-1.0))
      .drop("__phi")
  }

  /** Persist as a parquet model dir (sparse twin of
    * [[KernelSvmModel.save]]: landmarks carry (lidx, lval) pairs). */
  def save(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val k = Kernel.encode(featureMap.kernel)
    Seq((k._1, k._2, k._3, k._4, weights.toSeq, intercept))
      .toDF("kernel", "gamma", "coef0", "degree", "weights", "intercept")
      .write.mode("overwrite").parquet(s"$path/params")
    featureMap.landIdx.indices.map { i =>
      (i, featureMap.landIdx(i).toSeq, featureMap.landVal(i).toSeq)
    }.toDF("idx", "lidx", "lval")
      .write.mode("overwrite").parquet(s"$path/landmarks")
    featureMap.w.zipWithIndex.map { case (r, i) => (i, r.toSeq) }.toSeq
      .toDF("idx", "w_row")
      .write.mode("overwrite").parquet(s"$path/projection")
  }
}

object SparseKernelSvmModel {
  /** Reload a model dir written by [[SparseKernelSvmModel.save]]. */
  def load(spark: SparkSession, path: String): SparseKernelSvmModel = {
    val p = spark.read.parquet(s"$path/params").head()
    val kernel = Kernel.decode(p.getAs[String]("kernel"), p.getAs[Double]("gamma"),
      p.getAs[Double]("coef0"), p.getAs[Int]("degree"))
    val lm = spark.read.parquet(s"$path/landmarks").orderBy("idx").collect()
    val proj = spark.read.parquet(s"$path/projection").orderBy("idx")
      .collect().map(_.getSeq[Double](1).toArray)
    SparseKernelSvmModel(
      SparseNystromMap(
        lm.map(_.getSeq[Int](1).toArray),
        lm.map(_.getSeq[Double](2).toArray),
        proj, kernel),
      p.getSeq[Double](4).toArray,
      p.getAs[Double]("intercept"))
  }
}

object SparseKernelSvmTrainer {

  /** Fit a binary kernel SVM on sparse rows; labels in `labelCol` must
    * be ±1. Identical pipeline to [[KernelSvmTrainer.fit]] — sparse
    * Nyström map, then LinearSVC on the rank-dimensional φ table (the
    * solver never sees the raw dims, so its cost is dim-independent). */
  def fit(df: DataFrame, idCol: String, idxCol: String, valCol: String,
          labelCol: String,
          params: KernelSvmParams = KernelSvmParams()): SparseKernelSvmModel = {
    val map = SparseNystrom.fit(df, idCol, idxCol, valCol,
      params.kernel, params.numLandmarks)
    val (fitDf, n) = KernelSvmTrainer.boundFitRows(df, idCol, df.count(), params.maxFitRows)
    val parts = KernelSvmTrainer.fitPartitions(df, n)
    val feats = SparseNystrom.transform(fitDf, idxCol, valCol, map, "__phi")
      .withColumn("__features", array_to_vector(col("__phi")))
      .withColumn("__label01", when(col(labelCol) > 0, 1.0).otherwise(0.0))
      .withColumn("__weight",
        when(col(labelCol) > 0, params.posWeight).otherwise(params.negWeight))
      .repartition(parts)
      .persist()
    val svc = new LinearSVC()
      .setFeaturesCol("__features").setLabelCol("__label01")
      .setRegParam(params.regParam).setMaxIter(params.maxIter)
      .setTol(params.tol).setFitIntercept(true)
    if (params.posWeight != 1.0 || params.negWeight != 1.0)
      svc.setWeightCol("__weight")
    val m = svc.fit(feats)
    feats.unpersist()
    SparseKernelSvmModel(map, m.coefficients.toArray, m.intercept)
  }
}
