package graft.ml

import breeze.linalg.{DenseMatrix, DenseVector, eigSym}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types._

/** What the dense [[NystromMap]] and the sparse [[SparseNystromMap]]
  * share: the m×rank projection W, the kernel, the projection
  * φ(x) = Wᵀ·k(x,·), the model-file landmark table, and the content that
  * their expressions compare. The two differ only in how a landmark is
  * stored and which [[Kernel]] form scores a row against it. */
trait LandmarkMap extends Serializable {
  def w: Array[Array[Double]]
  def kernel: Kernel
  def rank: Int

  /** Wᵀ·kx, where kx(i) is the row's kernel value against landmark i. */
  protected final def project(kx: Array[Double]): Array[Double] = {
    val m = kx.length
    val out = new Array[Double](rank)
    var j = 0
    while (j < rank) {
      var s = 0.0; var i = 0
      while (i < m) { s += w(i)(j) * kx(i); i += 1 }
      out(j) = s; j += 1
    }
    out
  }

  /** The landmarks as the `landmarks` table of a saved model. */
  private[ml] def landmarkTable(spark: SparkSession): DataFrame
  /** The landmark rows, then W's rows, as doubles; with [[contentGroups]]
    * (the row count of each group) they are the map's content. */
  private[ml] def contentRows: Array[Array[Double]]
  private[ml] def contentGroups: Array[Int]
  /** The landmark table's shape, for explain output. */
  private[ml] def shape: String
}

/** §2.1 M6 (scale path): Nyström kernel-feature approximation.
  *
  * PSVM approximates the n×n kernel matrix K with an n×p factor H via
  * parallel ICF (reference: psvm icf.cc). The Spark-first equivalent is
  * the Nyström method: pick m landmark rows, compute the m×m kernel block
  * K_mm on the driver (m is small), form W = U·diag(1/√λ) from its
  * eigendecomposition, and map every row x to
  *     φ(x) = W^T · [k(x, l_1), …, k(x, l_m)]
  * so that φ(x)·φ(y) ≈ k(x, y).  Training a LINEAR model on φ then
  * approximates the kernel SVM — exactly how PSVM's ICF factor feeds its
  * IPM solve, but expressed as a feature map + distributed linear solve.
  *
  * Scale: landmarks are a driver-side m×d matrix broadcast to executors;
  * the feature map is one narrow map over the data (no shuffle). The
  * expensive O(n²) kernel matrix never materializes.
  */
final case class NystromMap(
    landmarks: Array[Array[Double]],
    w: Array[Array[Double]],   // m×m projection W = U·diag(1/√λ⁺)
    kernel: Kernel) extends LandmarkMap {

  val rank: Int = w.headOption.map(_.length).getOrElse(0)

  /** φ(x) for one vector (executor-local). */
  def features(x: Array[Double]): Array[Double] = {
    val m = landmarks.length
    val kx = new Array[Double](m)
    kernel(x, landmarks, 0, m, kx)     // kx(i) = k(x, landmarks(i)), 4 per pass
    project(kx)
  }

  /** [[features]] straight off Catalyst array data — called from the
    * generated code of [[NystromFeatures]], no per-row boxing. */
  def featuresFromArrayData(a: ArrayData): Array[Double] =
    features(a.toDoubleArray())

  /** Column form of the feature map: a native expression whose generated
    * code calls the tight JVM loop above with the map held as a codegen
    * reference object — one narrow map, no shuffle, no UDF ser/deser
    * boundary, so the surrounding projection stays in whole-stage
    * codegen. */
  def featuresCol: Column =
    GraftShim.column(NystromFeatures(GraftShim.expression(col("__vec")), this))

  private[ml] def landmarkTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    landmarks.zipWithIndex.map { case (l, i) => (i, l.toSeq) }.toSeq.toDF("idx", "landmark")
  }
  private[ml] def contentRows: Array[Array[Double]] = landmarks ++ w
  private[ml] def contentGroups: Array[Int] = Array(landmarks.length, w.length)
  private[ml] def shape: String =
    s"landmarks[${landmarks.length}x${landmarks.headOption.map(_.length).getOrElse(0)}]"
}

/** Content equality, hash and a bounded explain string for the feature-map
  * expressions: landmarks, W, their shapes and the kernel all take part. */
private[ml] trait LandmarkMapExpr extends graft.functions.TableExpr { self: Expression =>
  def map: LandmarkMap
  @transient override protected lazy val tableRows: Array[Array[Double]] = map.contentRows
  override protected def tableGroups: Array[Int] = map.contentGroups
  override protected def tableParams: Seq[Any] = Seq(map.kernel)
  override protected def tableShape: String =
    s"${map.shape}, w[${map.w.length}x${map.rank}], ${map.kernel}"
}

/** Fused `φ(x)` over an array<double> column (see [[NystromMap.featuresCol]]). */
case class NystromFeatures(child: Expression, map: NystromMap)
  extends UnaryExpression with LandmarkMapExpr {

  override def prettyName: String = "nystrom_features"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(map.featuresFromArrayData(a.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("nystromMap", map, classOf[NystromMap].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
      s"$mapRef.featuresFromArrayData($a));")
  }

  override protected def withNewChildInternal(c: Expression): NystromFeatures =
    copy(child = c)
}

object Nystrom {

  /** Landmark selection: a SEEDED uniform sample (deterministic for a
    * fixed input layout), thinned to exactly m by id order. Sampling
    * first means the ordering pass runs over ~4m sampled rows, not the
    * whole dataset, and — unlike "first m ids" — the landmarks cover the
    * data distribution even when ids correlate with content (sorted
    * ingest, range-partitioned corpora), which is what the Nyström
    * approximation quality depends on. */
  def fit(df: DataFrame, idCol: String, vecCol: String,
          kernel: Kernel, numLandmarks: Int, ridge: Double = 1e-10,
          seed: Long = 42L): NystromMap = {
    val landmarks: Array[Array[Double]] =
      pickLandmarks(df.select(col(idCol), col(vecCol)), idCol, numLandmarks, seed)
        .map(_.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray)
    NystromMap(landmarks,
      projection(landmarks.length, ridge)((i, j) => kernel(landmarks(i), landmarks(j))),
      kernel)
  }

  /** The landmark rows of `slim` (id first): the seeded sample ordered by
    * id, first `numLandmarks` — shared by [[fit]] and [[SparseNystrom.fit]]. */
  private[ml] def pickLandmarks(slim: DataFrame, idCol: String, numLandmarks: Int,
                                seed: Long): Array[Row] = {
    val n = slim.count()
    val frac = if (n == 0) 1.0 else math.min(1.0, numLandmarks * 4.0 / n)
    val sampled =
      if (frac >= 1.0) slim
      else slim.sample(withReplacement = false, frac, seed)
    val picked = sampled.orderBy(col(idCol)).limit(numLandmarks).collect()
    // a 4x-oversampled Bernoulli sample undershoots m with negligible
    // probability, but correctness can't ride on "negligible"
    if (picked.length < numLandmarks && frac < 1.0)
      slim.orderBy(col(idCol)).limit(numLandmarks).collect()
    else picked
  }

  /** W = U·diag(1/√λ⁺) from the ridged symmetric eigendecomposition of
    * the m×m landmark kernel block `kmm` — representation-agnostic: only
    * the kernel evaluations differ between dense and sparse rows. */
  private[ml] def projection(m: Int, ridge: Double)(
      kmm: (Int, Int) => Double): Array[Array[Double]] = {
    // symmetric eigendecomposition; ridge guards repeated landmarks
    val es = eigSym(DenseMatrix.tabulate(m, m)(kmm) + DenseMatrix.eye[Double](m) * ridge)
    val lambda: DenseVector[Double] = es.eigenvalues
    val u: DenseMatrix[Double] = es.eigenvectors
    val tol = 1e-12 * math.max(1.0, breeze.linalg.max(lambda))
    // W = U · diag(1/sqrt(λ)) for λ > tol (pseudo-inverse square root)
    val keep = (0 until m).filter(lambda(_) > tol)
    Array.tabulate(m, keep.length)((i, jj) => u(i, keep(jj)) / math.sqrt(lambda(keep(jj))))
  }

  /** Attach φ(x) as `featCol` (array<double>). */
  def transform(df: DataFrame, vecCol: String, map: NystromMap, featCol: String): DataFrame = {
    import graft.functions.VectorOps
    df.withColumn("__vec", VectorOps.toDoubleArray(col(vecCol)))
      .withColumn(featCol, map.featuresCol)
      .drop("__vec")
  }

  /** Writes the layout every Nyström model dir shares (reference:
    * model.cc Save): one `params` row (the kernel fields, then each
    * `extraParams` field with its value), `landmarks` and `projection`
    * (idx, w_row). The fields carry the nullability the tuple encoders
    * give them, which the parquet files record. */
  private[ml] def saveModel(spark: SparkSession, path: String, map: LandmarkMap,
                            extraParams: (StructField, Any)*): Unit = {
    import spark.implicits._
    val (kt, g, c0, d) = Kernel.encode(map.kernel)
    val schema = StructType(Seq(StructField("kernel", StringType),
      StructField("gamma", DoubleType, nullable = false),
      StructField("coef0", DoubleType, nullable = false),
      StructField("degree", IntegerType, nullable = false)) ++ extraParams.map(_._1))
    spark.createDataFrame(
        java.util.List.of(Row.fromSeq(Seq(kt, g, c0, d) ++ extraParams.map(_._2))), schema)
      .write.mode("overwrite").parquet(s"$path/params")
    map.landmarkTable(spark).write.mode("overwrite").parquet(s"$path/landmarks")
    map.w.zipWithIndex.map { case (r, i) => (i, r.toSeq) }.toSeq
      .toDF("idx", "w_row")
      .write.mode("overwrite").parquet(s"$path/projection")
  }

  /** Reads what [[saveModel]] wrote: the params row, its kernel, the
    * landmark rows and W, both in idx order. */
  private[ml] def loadModel(spark: SparkSession, path: String)
      : (Row, Kernel, Array[Row], Array[Array[Double]]) = {
    val p = spark.read.parquet(s"$path/params").head()
    val kernel = Kernel.decode(p.getAs[String]("kernel"), p.getAs[Double]("gamma"),
      p.getAs[Double]("coef0"), p.getAs[Int]("degree"))
    def rows(name: String): Array[Row] =
      spark.read.parquet(s"$path/$name").orderBy("idx").collect()
    (p, kernel, rows("landmarks"), rows("projection").map(_.getSeq[Double](1).toArray))
  }
}
