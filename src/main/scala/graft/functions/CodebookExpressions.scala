package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types._

/** Fused codebook/centroid expressions for the ANN family (guide §4:
  * keep the hot path in single codegen loops, and keep the PLAN small).
  *
  * The literal-tree forms these replace built one fused `sq_distance`
  * per centroid/codeword with the centroid as an `array(lit…)` subtree:
  * nlist(16) × dim(64) or m(8)·k(16) × sub(8) literal nodes PER CALL
  * SITE, multiplied again by CollapseProject inlining. p7c/p7d plans
  * carried thousands of literal nodes whose analysis + janino cost
  * dominated their steady-state runs (measured ~4s of per-run planning
  * gap at sf0.1 for p7d, §OPTIMIZATION_r14). Each expression here holds
  * the table as ONE reference object (the [[graft.ml.SparseNystromFeatures]]
  * pattern) and generates the same arithmetic in the same order, so
  * every output double/int is bit-identical to the literal form:
  *
  *   - distances: d_c = Σ_j (v_j − c_j)², j ascending, c ascending —
  *     exactly [[SqDistance]]'s left-to-right accumulation;
  *   - argmin: strict `<` keeps the FIRST minimal index — exactly
  *     `array_position(d, array_min(d)) − 1`;
  *   - residual: v_j − c_j per dim — exactly `zip_with(v, c, _-_)` on
  *     equal-length inputs;
  *   - PQ encode/ADC table iterate subspaces in order with the same
  *     per-subspace sq-distance loops.
  */
object CodebookExpressions {

  /** Array of squared distances to every centroid (nlist entries). */
  def centroidSqDistances(vec: Column, centroids: Array[Array[Double]]): Column =
    GraftShim.column(CentroidSqDistances(GraftShim.expression(vec), centroids))

  /** 0-based index of the nearest centroid (first index on ties). */
  def centroidArgmin(vec: Column, centroids: Array[Array[Double]]): Column =
    GraftShim.column(CentroidArgmin(GraftShim.expression(vec), centroids))

  /** vec − centroids(cell), per dimension. */
  def centroidResidual(vec: Column, cell: Column,
                       centroids: Array[Array[Double]]): Column =
    GraftShim.column(CentroidResidual(
      GraftShim.expression(vec), GraftShim.expression(cell), centroids))

  /** PQ code: per subspace, the 0-based nearest-codeword index. */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    GraftShim.column(PqEncode(GraftShim.expression(vec), codebooks))

  /** Flat m·k ADC table: subspace-major squared distances. */
  def pqAdcTable(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    GraftShim.column(PqAdcTable(GraftShim.expression(vec), codebooks))

  /** Per-class OVR decision values: d_k = w_k·φ + b_k (DotProduct order). */
  def ovrDecisions(phi: Column, weights: Array[Array[Double]],
                   intercepts: Array[Double]): Column =
    GraftShim.column(OvrDecisions(GraftShim.expression(phi), weights, intercepts))
}

/** Content-based equality/hash/print for the array-table expressions:
  * Array fields give case classes reference equals/hashCode and
  * identity-hash toString ([[D@...]]), so canonicalization, subexpression
  * elimination and exchange reuse never match two separately built
  * instances, and explain output is nondeterministic (r14 ADVICE). */
private[graft] trait TableExpr { self: Expression =>
  /** The reference table flattened for equality/hash purposes. */
  protected def tableRows: Array[Array[Double]]
  /** Row count of each group the flattening merged (PQ: codewords per
    * subspace), so `[[a,b]]` and `[[a],[b]]` do not compare equal;
    * empty for tables that are not grouped. */
  protected def tableGroups: Array[Int] = Array.emptyIntArray
  /** Non-table fields with value equality (e.g. a kernel) that take part
    * in equality and hash. */
  protected def tableParams: Seq[Any] = Nil
  protected def tableShape: String
  final override def equals(o: Any): Boolean = o match {
    case that: TableExpr if that.getClass == getClass =>
      children == that.asInstanceOf[Expression].children &&
        tableParams == that.tableParams &&
        java.util.Arrays.equals(tableGroups, that.tableGroups) &&
        tableRows.length == that.tableRows.length &&
        tableRows.indices.forall(i =>
          java.util.Arrays.equals(tableRows(i), that.tableRows(i)))
    case _ => false
  }
  final override def hashCode: Int = {
    var h = ((getClass.hashCode * 31 + children.hashCode) * 31 +
      tableParams.hashCode) * 31 + java.util.Arrays.hashCode(tableGroups)
    var i = 0
    while (i < tableRows.length) {
      h = h * 31 + java.util.Arrays.hashCode(tableRows(i)); i += 1
    }
    h
  }
  // stable, bounded explain rendering: name + table shape, never the array
  final override def stringArgs: Iterator[Any] =
    children.iterator ++ Iterator(tableShape)
}

private[functions] trait VecArrayInput { self: UnaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }
}

/** d_c = Σ_j (v_j − c_j)² for every centroid c, [[SqDistance]] order. */
case class CentroidSqDistances(child: Expression,
                               centroids: Array[Array[Double]])
  extends UnaryExpression with VecArrayInput with TableExpr {

  override def prettyName: String = "centroid_sq_distances"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def tableRows: Array[Array[Double]] = centroids
  override protected def tableShape: String =
    s"centroids[${centroids.length}x${if (centroids.isEmpty) 0 else centroids(0).length}]"

  private def compute(v: ArrayData): Array[Double] = {
    val out = new Array[Double](centroids.length)
    var c = 0
    while (c < centroids.length) {
      val cw = centroids(c)
      val n = math.min(v.numElements(), cw.length)
      var s = 0.0; var j = 0
      while (j < n) { val d = v.getDouble(j) - cw(j); s += d * d; j += 1 }
      out(c) = s; c += 1
    }
    out
  }

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(compute(a.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidSqDists", this,
      classOf[CentroidSqDistances].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
      s"$ref.computeForCodegen($a));")
  }

  def computeForCodegen(v: ArrayData): Array[Double] = compute(v)

  override protected def withNewChildInternal(c: Expression): CentroidSqDistances =
    copy(child = c)
}

/** First 0-based argmin over the centroid distances (strict `<`). */
case class CentroidArgmin(child: Expression,
                          centroids: Array[Array[Double]])
  extends UnaryExpression with VecArrayInput with TableExpr {

  override def prettyName: String = "centroid_argmin"
  override def dataType: DataType = IntegerType
  override protected def tableRows: Array[Array[Double]] = centroids
  override protected def tableShape: String =
    s"centroids[${centroids.length}x${if (centroids.isEmpty) 0 else centroids(0).length}]"

  def computeForCodegen(v: ArrayData): Int = {
    // PositiveInfinity, not MaxValue: an all-Infinity distance row must
    // still return the first-index argmin the array_position(array_min)
    // contract promises (r14 ADVICE)
    var best = Double.PositiveInfinity; var bi = 0
    var c = 0
    while (c < centroids.length) {
      val cw = centroids(c)
      val n = math.min(v.numElements(), cw.length)
      var s = 0.0; var j = 0
      while (j < n) { val d = v.getDouble(j) - cw(j); s += d * d; j += 1 }
      if (s < best) { best = s; bi = c }
      c += 1
    }
    bi
  }

  override def nullSafeEval(a: Any): Any =
    computeForCodegen(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidArgmin", this,
      classOf[CentroidArgmin].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.computeForCodegen($a);")
  }

  override protected def withNewChildInternal(c: Expression): CentroidArgmin =
    copy(child = c)
}

/** vec − centroids(cell) per dimension (`zip_with` on equal lengths). */
case class CentroidResidual(left: Expression, right: Expression,
                            centroids: Array[Array[Double]])
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with TableExpr {

  override def prettyName: String = "centroid_residual"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def tableRows: Array[Array[Double]] = centroids
  override protected def tableShape: String =
    s"centroids[${centroids.length}x${if (centroids.isEmpty) 0 else centroids(0).length}]"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, int), got ${l.simpleString}, ${r.simpleString}")
    }

  def computeForCodegen(v: ArrayData, cell: Int): GenericArrayData = {
    require(cell >= 0 && cell < centroids.length,
      s"centroid_residual: cell $cell out of range [0, ${centroids.length})")
    val cw = centroids(cell)
    // clamp to the shorter length: a vector longer than the centroid dim
    // must not throw past cw's end (the replaced zip_with null-padded;
    // real inputs are always equal-length — r14 ADVICE hardening)
    val n = math.min(v.numElements(), cw.length)
    val out = new Array[Double](n)
    var j = 0
    while (j < n) { out(j) = v.getDouble(j) - cw(j); j += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    computeForCodegen(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidResidual", this,
      classOf[CentroidResidual].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $ref.computeForCodegen($a, $b);")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CentroidResidual =
    copy(left = l, right = r)
}

/** PQ code array: per subspace s, first argmin codeword of the s-th
  * dim-slice (identical slice bounds and accumulation order to the
  * `slice` + `sq_distance` + `array_position(array_min)` form). */
case class PqEncode(child: Expression,
                    codebooks: Array[Array[Array[Double]]])
  extends UnaryExpression with VecArrayInput with TableExpr {

  override def prettyName: String = "pq_encode"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  @transient override protected lazy val tableRows: Array[Array[Double]] = codebooks.flatten
  @transient override protected lazy val tableGroups: Array[Int] = codebooks.map(_.length)
  override protected def tableShape: String = {
    val k = if (codebooks.isEmpty) 0 else codebooks(0).length
    val sub = if (k == 0) 0 else codebooks(0)(0).length
    s"codebooks[${codebooks.length}x${k}x$sub]"
  }

  def computeForCodegen(v: ArrayData): GenericArrayData = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    // fail loudly on a short vector instead of reading past its end
    // (UnsafeArrayData.getDouble is unchecked — r14 ADVICE hardening;
    // the replaced slice+sq_distance form clamped, which would silently
    // mis-encode: malformed input should never encode at all)
    require(v.numElements() >= m * sub,
      s"pq_encode: vector of ${v.numElements()} elements, need ${m * sub}")
    val out = new Array[Int](m)
    var s = 0; var off = 0
    while (s < m) {
      val cws = codebooks(s)
      var best = Double.PositiveInfinity; var bi = 0
      var c = 0
      while (c < cws.length) {
        val cw = cws(c)
        var acc = 0.0; var j = 0
        while (j < sub) { val d = v.getDouble(off + j) - cw(j); acc += d * d; j += 1 }
        if (acc < best) { best = acc; bi = c }
        c += 1
      }
      out(s) = bi; s += 1; off += sub
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any =
    computeForCodegen(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.computeForCodegen($a);")
  }

  override protected def withNewChildInternal(c: Expression): PqEncode =
    copy(child = c)
}

/** Flat m·k ADC table, subspace-major, [[SqDistance]] order per cell. */
case class PqAdcTable(child: Expression,
                      codebooks: Array[Array[Array[Double]]])
  extends UnaryExpression with VecArrayInput with TableExpr {

  override def prettyName: String = "pq_adc_table"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  @transient override protected lazy val tableRows: Array[Array[Double]] = codebooks.flatten
  @transient override protected lazy val tableGroups: Array[Int] = codebooks.map(_.length)
  override protected def tableShape: String = {
    val k = if (codebooks.isEmpty) 0 else codebooks(0).length
    val sub = if (k == 0) 0 else codebooks(0)(0).length
    s"codebooks[${codebooks.length}x${k}x$sub]"
  }

  def computeForCodegen(v: ArrayData): GenericArrayData = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val k = codebooks(0).length
    require(v.numElements() >= m * sub,
      s"pq_adc_table: vector of ${v.numElements()} elements, need ${m * sub}")
    val out = new Array[Double](m * k)
    var s = 0; var off = 0
    while (s < m) {
      val cws = codebooks(s)
      var c = 0
      while (c < cws.length) {
        val cw = cws(c)
        var acc = 0.0; var j = 0
        while (j < sub) { val d = v.getDouble(off + j) - cw(j); acc += d * d; j += 1 }
        out(s * k + c) = acc; c += 1
      }
      s += 1; off += sub
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any =
    computeForCodegen(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdcTable", this, classOf[PqAdcTable].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.computeForCodegen($a);")
  }

  override protected def withNewChildInternal(c: Expression): PqAdcTable =
    copy(child = c)
}

/** Per-class OVR decision array d_k = w_k·φ + b_k — replaces the
  * classes × rank `array(lit…)` trees in multiclass SVM scoring (the
  * same literal-bloat disease the codebook expressions cured; r14
  * verdict item 4). Arithmetic is exactly the replaced form's:
  * [[DotProduct]]'s left-to-right accumulation over min(len) elements,
  * then `+ intercept` after the sum. */
case class OvrDecisions(child: Expression,
                        weights: Array[Array[Double]],
                        intercepts: Array[Double])
  extends UnaryExpression with VecArrayInput with TableExpr {

  override def prettyName: String = "ovr_decisions"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  @transient override protected lazy val tableRows: Array[Array[Double]] =
    weights :+ intercepts
  override protected def tableShape: String =
    s"classifiers[${weights.length}x${if (weights.isEmpty) 0 else weights(0).length}]"

  def computeForCodegen(v: ArrayData): GenericArrayData = {
    val out = new Array[Double](weights.length)
    var k = 0
    while (k < weights.length) {
      val w = weights(k)
      val n = math.min(v.numElements(), w.length)
      var s = 0.0; var j = 0
      while (j < n) { s += v.getDouble(j) * w(j); j += 1 }
      out(k) = s + intercepts(k); k += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any =
    computeForCodegen(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ovrDecisions", this, classOf[OvrDecisions].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.computeForCodegen($a);")
  }

  override protected def withNewChildInternal(c: Expression): OvrDecisions =
    copy(child = c)
}
