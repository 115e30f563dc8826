package graft.ml

import org.apache.spark.sql.Column
import graft.functions.VectorOps

/** §2.1 M2–M5: the four PSVM kernels (reference: psvm kernel.cc,
  * kernel_type 0–3). Column forms use the fused native expressions
  * (single codegen'd loop per pair, sequential accumulation identical to
  * the HOF forms and the DuckDB oracles); plain-Scala twins serve
  * driver/executor-local math (Nyström/ICF pivots, SV scoring).
  * A plain form equals its column form bit for bit: the same loop order,
  * and `java.lang.StrictMath` exp/pow, which Spark's `Exp`/`Pow` codegen
  * calls (`math.exp` may differ from it in the last ulp). The RBF and
  * Laplacian panel forms finish with [[Kernel.strictExp]], an array form of
  * `StrictMath.exp` that gives its bits: JDK 17's `StrictMath.exp` is
  * fdlibm's `e_exp.c` in Java, and the array form runs the same IEEE
  * operations in the same order, only without the per-call branches.
  */
sealed trait Kernel extends Serializable {
  /** Column form: k(a, b) over two array<double> columns. */
  def apply(a: Column, b: Column): Column
  /** Driver/executor-local form over raw arrays (same math, including
    * the column forms' clamp to the shorter array). */
  def apply(a: Array[Double], b: Array[Double]): Double
  /** Panel form, one vector against a fixed table: `out(j)` = k(a, pⱼ)
    * for each partner j in [0, p.n), bit for bit the pair form's value.
    * The table is dim-major, so each dimension of `a` meets every
    * partner in one straight loop over j (which C2 vectorizes); each
    * pair still sums in the pair form's dimension order, from 0.0,
    * clamped to the shorter array, and gets the same `StrictMath`
    * finish. All four kernels are symmetric bit for bit (a·b = b·a, and
    * a − b = −(b − a) exactly under round-to-nearest), so `a` may stand
    * on either side of the pair form it replaces. */
  def apply(a: Array[Double], p: Kernel.Panel, out: Array[Double]): Unit
  /** Column form over two SPARSE vectors, each an (indices: array<int>
    * ascending, values: array<double>) pair — the fused merge-join
    * kernels (O(nnz) per pair, bit-identical to the dense forms on the
    * same data; see [[graft.functions.SparseMergeBinary]]). */
  def sparse(ai: Column, av: Column, bi: Column, bv: Column): Column
  /** Driver/executor-local sparse form (same merge order). */
  def sparse(ai: Array[Int], av: Array[Double],
             bi: Array[Int], bv: Array[Double]): Double
  def name: String
}

object Kernel {
  import graft.functions.SparseOps

  /** A fixed partner table for the panel form, stored dim-major:
    * `cols(d)(j)` is partner j's value at dimension d, for d below
    * [[width]], the length every partner has (the shortest one's). A
    * partner longer than that keeps its row in `tails(j)` for its clamp
    * tail; the others keep nothing there (`tails` is null when none is
    * longer), so a table of equal-length partners holds each value once. */
  final class Panel private (val n: Int, private[Kernel] val cols: Array[Array[Double]],
                             private[Kernel] val tails: Array[Array[Double]])
      extends Serializable {
    def width: Int = cols.length
  }

  object Panel {
    /** The panel of `rows`, partner j = rows(j). */
    def apply(rows: Array[Array[Double]]): Panel = {
      val n = rows.length
      val width = if (n == 0) 0 else rows.iterator.map(_.length).min
      val cols = Array.tabulate(width)(d => Array.tabulate(n)(j => rows(j)(d)))
      val tails =
        if (rows.forall(_.length == width)) null
        else rows.map(r => if (r.length > width) r else null)
      new Panel(n, cols, tails)
    }
  }

  /** A sum over the first min(|a|, |b|) dimensions of a pair, in
    * dimension order: the dense kernels are functions of one of these. */
  private sealed abstract class PairSum extends Serializable {
    /** `s` plus the terms of dimensions [i0, until). */
    def from(s: Double, a: Array[Double], b: Array[Double], i0: Int, until: Int): Double
    /** out(j) += the term of (ad, c(j)) for j in [0, n): one dimension of
      * a panel, a straight loop with no dependence between the js. */
    protected def column(ad: Double, c: Array[Double], out: Array[Double], n: Int): Unit

    final def one(a: Array[Double], b: Array[Double]): Double =
      from(0.0, a, b, 0, math.min(a.length, b.length))

    /** out(j) += the terms of dimensions d … d + 3 of (a, pⱼ), added in
      * that order, for j in [0, n): four [[column]]s in one loop. */
    protected def columns4(a: Array[Double], d: Int, cols: Array[Array[Double]],
                           out: Array[Double], n: Int): Unit

    /** out(j) = one(a, pⱼ) for j in [0, p.n): the panel's shared
      * dimensions four at a time ([[columns4]], each pair's terms still
      * added one by one in dimension order), the rest one [[column]] at a
      * time, then each longer partner's clamp tail. */
    final def panel(a: Array[Double], p: Panel, out: Array[Double]): Unit = {
      val n = p.n
      java.util.Arrays.fill(out, 0, n, 0.0)
      val m = math.min(a.length, p.width)
      var d = 0
      while (d + 4 <= m) { columns4(a, d, p.cols, out, n); d += 4 }
      while (d < m) { column(a(d), p.cols(d), out, n); d += 1 }
      if (p.tails != null && a.length > m) {
        var j = 0
        while (j < n) {
          val b = p.tails(j)
          if (b != null) out(j) = from(out(j), a, b, m, math.min(a.length, b.length))
          j += 1
        }
      }
    }
  }

  /** Σ a·b. */
  private object Dot extends PairSum {
    def from(s0: Double, a: Array[Double], b: Array[Double], i0: Int, until: Int): Double = {
      var s = s0; var i = i0
      while (i < until) { s += a(i) * b(i); i += 1 }
      s
    }
    protected def column(ad: Double, c: Array[Double], out: Array[Double], n: Int): Unit = {
      var j = 0
      while (j < n) { out(j) += ad * c(j); j += 1 }
    }
    protected def columns4(a: Array[Double], d: Int, cols: Array[Array[Double]],
                           out: Array[Double], n: Int): Unit = {
      val a0 = a(d); val a1 = a(d + 1); val a2 = a(d + 2); val a3 = a(d + 3)
      val c0 = cols(d); val c1 = cols(d + 1); val c2 = cols(d + 2); val c3 = cols(d + 3)
      var j = 0
      while (j < n) {
        out(j) = (((out(j) + a0 * c0(j)) + a1 * c1(j)) + a2 * c2(j)) + a3 * c3(j)
        j += 1
      }
    }
  }

  /** Σ (a − b)². */
  private object SqDist extends PairSum {
    def from(s0: Double, a: Array[Double], b: Array[Double], i0: Int, until: Int): Double = {
      var s = s0; var i = i0
      while (i < until) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    protected def column(ad: Double, c: Array[Double], out: Array[Double], n: Int): Unit = {
      var j = 0
      while (j < n) { val d = ad - c(j); out(j) += d * d; j += 1 }
    }
    protected def columns4(a: Array[Double], d: Int, cols: Array[Array[Double]],
                           out: Array[Double], n: Int): Unit = {
      val a0 = a(d); val a1 = a(d + 1); val a2 = a(d + 2); val a3 = a(d + 3)
      val c0 = cols(d); val c1 = cols(d + 1); val c2 = cols(d + 2); val c3 = cols(d + 3)
      var j = 0
      while (j < n) {
        val e0 = a0 - c0(j); val e1 = a1 - c1(j); val e2 = a2 - c2(j); val e3 = a3 - c3(j)
        out(j) = (((out(j) + e0 * e0) + e1 * e1) + e2 * e2) + e3 * e3
        j += 1
      }
    }
  }

  /** Σ |a − b|. */
  private object L1Dist extends PairSum {
    def from(s0: Double, a: Array[Double], b: Array[Double], i0: Int, until: Int): Double = {
      var s = s0; var i = i0
      while (i < until) { s += math.abs(a(i) - b(i)); i += 1 }
      s
    }
    protected def column(ad: Double, c: Array[Double], out: Array[Double], n: Int): Unit = {
      var j = 0
      while (j < n) { out(j) += math.abs(ad - c(j)); j += 1 }
    }
    protected def columns4(a: Array[Double], d: Int, cols: Array[Array[Double]],
                           out: Array[Double], n: Int): Unit = {
      val a0 = a(d); val a1 = a(d + 1); val a2 = a(d + 2); val a3 = a(d + 3)
      val c0 = cols(d); val c1 = cols(d + 1); val c2 = cols(d + 2); val c3 = cols(d + 3)
      var j = 0
      while (j < n) {
        out(j) = (((out(j) + math.abs(a0 - c0(j))) + math.abs(a1 - c1(j))) +
          math.abs(a2 - c2(j))) + math.abs(a3 - c3(j))
        j += 1
      }
    }
  }

  case object Linear extends Kernel {
    val name = "linear"
    def apply(a: Column, b: Column): Column =
      graft.functions.GraftFunctions.dot_product(a, b)
    def apply(a: Array[Double], b: Array[Double]): Double = Dot.one(a, b)
    def apply(a: Array[Double], p: Panel, out: Array[Double]): Unit = Dot.panel(a, p, out)
    def sparse(ai: Column, av: Column, bi: Column, bv: Column): Column =
      SparseOps.sparse_dot(ai, av, bi, bv)
    def sparse(ai: Array[Int], av: Array[Double],
               bi: Array[Int], bv: Array[Double]): Double =
      SparseOps.dotLocal(ai, av, bi, bv)
  }

  final case class Polynomial(gamma: Double, coef0: Double, degree: Int) extends Kernel {
    val name = "polynomial"
    def apply(a: Column, b: Column): Column = {
      import org.apache.spark.sql.functions.{lit, pow}
      pow(lit(gamma) * graft.functions.GraftFunctions.dot_product(a, b) + lit(coef0), lit(degree))
    }
    def apply(a: Array[Double], b: Array[Double]): Double = ofDot(Dot.one(a, b))
    def apply(a: Array[Double], p: Panel, out: Array[Double]): Unit = {
      Dot.panel(a, p, out)
      var j = 0; while (j < p.n) { out(j) = ofDot(out(j)); j += 1 }
    }
    private def ofDot(s: Double): Double = StrictMath.pow(gamma * s + coef0, degree)
    def sparse(ai: Column, av: Column, bi: Column, bv: Column): Column = {
      import org.apache.spark.sql.functions.{lit, pow}
      pow(lit(gamma) * SparseOps.sparse_dot(ai, av, bi, bv) + lit(coef0), lit(degree))
    }
    def sparse(ai: Array[Int], av: Array[Double],
               bi: Array[Int], bv: Array[Double]): Double =
      StrictMath.pow(gamma * SparseOps.dotLocal(ai, av, bi, bv) + coef0, degree)
  }

  final case class Rbf(gamma: Double) extends Kernel {
    val name = "rbf"
    def apply(a: Column, b: Column): Column = {
      import org.apache.spark.sql.functions.{exp, lit}
      exp(lit(-gamma) * graft.functions.GraftFunctions.sq_distance(a, b))
    }
    def apply(a: Array[Double], b: Array[Double]): Double =
      StrictMath.exp(-gamma * SqDist.one(a, b))
    def apply(a: Array[Double], p: Panel, out: Array[Double]): Unit = {
      SqDist.panel(a, p, out)
      var j = 0; while (j < p.n) { out(j) = -gamma * out(j); j += 1 }
      Kernel.strictExp(out, p.n)
    }
    def sparse(ai: Column, av: Column, bi: Column, bv: Column): Column = {
      import org.apache.spark.sql.functions.{exp, lit}
      exp(lit(-gamma) * SparseOps.sparse_sq_distance(ai, av, bi, bv))
    }
    def sparse(ai: Array[Int], av: Array[Double],
               bi: Array[Int], bv: Array[Double]): Double =
      StrictMath.exp(-gamma * SparseOps.sqDistLocal(ai, av, bi, bv))
  }

  final case class Laplacian(gamma: Double) extends Kernel {
    val name = "laplacian"
    def apply(a: Column, b: Column): Column = {
      import org.apache.spark.sql.functions.{exp, lit}
      exp(lit(-gamma) * graft.functions.GraftFunctions.l1_distance(a, b))
    }
    def apply(a: Array[Double], b: Array[Double]): Double =
      StrictMath.exp(-gamma * L1Dist.one(a, b))
    def apply(a: Array[Double], p: Panel, out: Array[Double]): Unit = {
      L1Dist.panel(a, p, out)
      var j = 0; while (j < p.n) { out(j) = -gamma * out(j); j += 1 }
      Kernel.strictExp(out, p.n)
    }
    def sparse(ai: Column, av: Column, bi: Column, bv: Column): Column = {
      import org.apache.spark.sql.functions.{exp, lit}
      exp(lit(-gamma) * SparseOps.sparse_l1_distance(ai, av, bi, bv))
    }
    def sparse(ai: Array[Int], av: Array[Double],
               bi: Array[Int], bv: Array[Double]): Double =
      StrictMath.exp(-gamma * SparseOps.l1DistLocal(ai, av, bi, bv))
  }

  // fdlibm e_exp.c's constants, as JDK 17's FdLibm.Exp holds them
  private val Ln2Hi = java.lang.Double.parseDouble("0x1.62e42feep-1")
  private val Ln2Lo = java.lang.Double.parseDouble("0x1.a39ef35793c76p-33")
  private val InvLn2 = java.lang.Double.parseDouble("0x1.71547652b82fep0")
  private val P1 = java.lang.Double.parseDouble("0x1.555555555553ep-3")
  private val P2 = java.lang.Double.parseDouble("-0x1.6c16c16bebd93p-9")
  private val P3 = java.lang.Double.parseDouble("0x1.1566aaf25de2cp-14")
  private val P4 = java.lang.Double.parseDouble("-0x1.bbd41c5d26bf1p-20")
  private val P5 = java.lang.Double.parseDouble("0x1.6376972bea4d0p-25")
  /** 1.5·ln2 rounded up to its high word (0x3FF0A2B2): fdlibm reduces
    * |x| ≥ this by k = (int)(x/ln2 ∓ ½), and below it by k = ±1 or 0. */
  private val ReduceAbove = java.lang.Double.longBitsToDouble(0x3FF0A2B2L << 32)

  /** xs(j) = `StrictMath.exp(xs(j))` for j in [0, n), bit for bit. An x
    * in (−700, −[[ReduceAbove]]] (what an RBF or Laplacian finish
    * `exp(−γ·s)` meets most) takes fdlibm's general path written as
    * straight loops over j: k = (int)(x/ln2 − ½), here its ceiling
    * (the same integer, as the argument is ≤ −2); the reduced argument
    * r = hi − lo with hi = x − k·ln2Hi (exact) and lo = k·ln2Lo; the
    * P1–P5 polynomial c; y = 1 − ((lo − r·c/(2 − c)) − hi); then, in a
    * second pass that branches on x's range, y scaled by 2^k (k ≥ −1010
    * here, so the result is normal and fdlibm adds k to y's high word,
    * as this adds `k << 52` to its bits). Every other x (NaN, ±0, ±∞,
    * positive, |x| < 1.5·ln2, or a result near or below the subnormal
    * range) calls `StrictMath.exp`. The scratch array (n doubles) is
    * allocated per call rather than kept in a `ThreadLocal`, whose map
    * lookup would run on every call. */
  private[ml] def strictExp(xs: Array[Double], n: Int): Unit = {
    val ys = new Array[Double](n)
    var j = 0
    while (j < n) {
      val x = xs(j)
      val k = Math.ceil(InvLn2 * x - 0.5)
      val hi = x - k * Ln2Hi
      val lo = k * Ln2Lo
      val r = hi - lo
      val t = r * r
      val c = r - t * (P1 + t * (P2 + t * (P3 + t * (P4 + t * P5))))
      ys(j) = 1.0 - ((lo - r * c / (2.0 - c)) - hi)
      j += 1
    }
    j = 0
    while (j < n) {
      val x = xs(j)
      xs(j) =
        if (x > -700.0 && x <= -ReduceAbove) {
          val k = Math.ceil(InvLn2 * x - 0.5).toLong
          java.lang.Double.longBitsToDouble(java.lang.Double.doubleToRawLongBits(ys(j)) + (k << 52))
        } else StrictMath.exp(x)
      j += 1
    }
  }

  /** Model-file codec (reference: psvm model.cc): a kernel as its
    * (kernel_type, gamma, coef0, degree) fields, unused fields 0. */
  def encode(k: Kernel): (String, Double, Double, Int) = k match {
    case Linear => (k.name, 0.0, 0.0, 0)
    case Polynomial(g, c, d) => (k.name, g, c, d)
    case Rbf(g) => (k.name, g, 0.0, 0)
    case Laplacian(g) => (k.name, g, 0.0, 0)
  }

  /** Inverse of [[encode]]. The numeric fields are read only when the
    * kernel type uses them; a `kernelType` from outside input that names
    * no kernel is rejected with the offending value. */
  def decode(kernelType: String, gamma: => Double, coef0: => Double,
             degree: => Int): Kernel = kernelType match {
    case "linear" => Linear
    case "polynomial" => Polynomial(gamma, coef0, degree)
    case "rbf" => Rbf(gamma)
    case "laplacian" => Laplacian(gamma)
    case other => throw new IllegalArgumentException(
      s"unknown kernel_type '$other' (expected linear, polynomial, rbf or laplacian)")
  }
}
