package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  def predict(df: DataFrame, idxCol: String, valCol: String): DataFrame =
    KernelSvmModel.withDecision(
      SparseNystrom.transform(df, idxCol, valCol, featureMap, "__phi"), weights, intercept)

  /** Persist as a parquet model dir (sparse twin of
    * [[KernelSvmModel.save]]: landmarks carry (lidx, lval) pairs). */
  def save(spark: SparkSession, path: String): Unit =
    KernelSvmModel.save(spark, path, featureMap, weights, intercept)
}

object SparseKernelSvmModel {
  /** Reload a model dir written by [[SparseKernelSvmModel.save]]. */
  def load(spark: SparkSession, path: String): SparseKernelSvmModel = {
    val (p, kernel, lm, w) = Nystrom.loadModel(spark, path)
    SparseKernelSvmModel(
      SparseNystromMap(lm.map(_.getSeq[Int](1).toArray), lm.map(_.getSeq[Double](2).toArray),
        w, kernel),
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
    val (w, b) = KernelSvmTrainer.fitBinary(df, idCol, labelCol, params)(
      SparseNystrom.transform(_, idxCol, valCol, map, "__phi"))
    SparseKernelSvmModel(map, w, b)
  }
}
