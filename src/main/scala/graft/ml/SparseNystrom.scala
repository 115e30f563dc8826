package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** §2.1 M6/M16 (sparse scale path): the Nyström kernel-feature map over
  * SPARSE rows — the reference's native data regime (psvm document.cc
  * stores `idx:val` sparse rows; its benchmark corpora are rcv1-class,
  * ~47k dims with ~75 non-zeros per row). The dense [[NystromMap]]
  * would carry dim doubles per row THROUGH the feature map (47k dims =
  * ~370 KB/row — 22 TB of scan for a 60M-row corpus that is ~60 GB
  * sparse), so the whole pipeline stays in the (indices, values) pair
  * representation until the map emits its rank-sized dense φ(x), which
  * is what every downstream consumer (LinearSVC, IPM, scoring) reads.
  *
  * The landmark kernel evaluations use the fused sparse merge-join
  * kernels ([[graft.functions.SparseMergeBinary]]) — O(nnz) per pair
  * and bit-identical to the dense kernels on the same data, so a
  * sparse-fit model scores EXACTLY like its densified twin (pinned by
  * SparseMlSpec).
  */
final case class SparseNystromMap(
    landIdx: Array[Array[Int]],
    landVal: Array[Array[Double]],
    w: Array[Array[Double]],   // m×rank projection W = U·diag(1/√λ⁺)
    kernel: Kernel) extends LandmarkMap {

  val rank: Int = w.headOption.map(_.length).getOrElse(0)

  /** φ(x) for one sparse vector (executor-local; the dense map's
    * projection, so the two agree bit-for-bit). */
  def features(xi: Array[Int], xv: Array[Double]): Array[Double] = {
    val m = landIdx.length
    val kx = new Array[Double](m)
    var i = 0
    while (i < m) { kx(i) = kernel.sparse(xi, xv, landIdx(i), landVal(i)); i += 1 }
    project(kx)
  }

  /** [[features]] straight off Catalyst array data (no boxing). */
  def featuresFromArrayData(ia: ArrayData, va: ArrayData): Array[Double] =
    features(ia.toIntArray(), va.toDoubleArray())

  /** Column form over (indices, values) columns — native codegen map,
    * one narrow pass, no shuffle (the sparse twin of
    * [[NystromMap.featuresCol]]). */
  def featuresCol(idxCol: Column, valCol: Column): Column =
    GraftShim.column(SparseNystromFeatures(
      GraftShim.expression(idxCol), GraftShim.expression(valCol), this))

  private[ml] def landmarkTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    landIdx.indices.map(i => (i, landIdx(i).toSeq, landVal(i).toSeq)).toDF("idx", "lidx", "lval")
  }
  private[ml] def contentRows: Array[Array[Double]] =
    landIdx.map(_.map(_.toDouble)) ++ landVal ++ w
  private[ml] def contentGroups: Array[Int] = Array(landIdx.length, landVal.length, w.length)
  private[ml] def shape: String = s"sparse_landmarks[${landIdx.length}]"
}

/** Fused `φ(x)` over an (array<int>, array<double>) sparse pair. */
case class SparseNystromFeatures(left: Expression, right: Expression, map: SparseNystromMap)
  extends BinaryExpression with LandmarkMapExpr {

  override def prettyName: String = "sparse_nystrom_features"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any =
    new GenericArrayData(map.featuresFromArrayData(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("sparseNystromMap", map,
      classOf[SparseNystromMap].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
      s"$mapRef.featuresFromArrayData($a, $b));")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SparseNystromFeatures =
    copy(left = l, right = r)
}

object SparseNystrom {

  /** Landmark selection + K_mm + projection, all on sparse pairs — the
    * landmark picker and projection of [[Nystrom.fit]] with K_mm entries
    * from the local sparse merge kernels. */
  def fit(df: DataFrame, idCol: String, idxCol: String, valCol: String,
          kernel: Kernel, numLandmarks: Int, ridge: Double = 1e-10,
          seed: Long = 42L): SparseNystromMap = {
    val picked = Nystrom.pickLandmarks(
      df.select(col(idCol), col(idxCol), col(valCol)), idCol, numLandmarks, seed)
    val li: Array[Array[Int]] = picked.map(_.getSeq[Int](1).toArray)
    val lv: Array[Array[Double]] = picked.map(_.getSeq[Double](2).toArray)
    SparseNystromMap(li, lv,
      Nystrom.projection(li.length, ridge)((i, j) => kernel.sparse(li(i), lv(i), li(j), lv(j))),
      kernel)
  }

  /** Attach φ(x) as `featCol` (array<double>). */
  def transform(df: DataFrame, idxCol: String, valCol: String,
                map: SparseNystromMap, featCol: String): DataFrame =
    df.withColumn(featCol, map.featuresCol(col(idxCol), col(valCol)))
}
