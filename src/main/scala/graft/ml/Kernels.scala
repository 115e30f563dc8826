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
  * calls (`math.exp` may differ from it in the last ulp).
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

    /** out(j) = one(a, pⱼ) for j in [0, p.n): the panel's shared
      * dimensions one [[column]] at a time, then each longer partner's
      * clamp tail. */
    final def panel(a: Array[Double], p: Panel, out: Array[Double]): Unit = {
      val n = p.n
      java.util.Arrays.fill(out, 0, n, 0.0)
      val m = math.min(a.length, p.width)
      var d = 0
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
      var j = 0; while (j < p.n) { out(j) = StrictMath.exp(-gamma * out(j)); j += 1 }
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
      var j = 0; while (j < p.n) { out(j) = StrictMath.exp(-gamma * out(j)); j += 1 }
    }
    def sparse(ai: Column, av: Column, bi: Column, bv: Column): Column = {
      import org.apache.spark.sql.functions.{exp, lit}
      exp(lit(-gamma) * SparseOps.sparse_l1_distance(ai, av, bi, bv))
    }
    def sparse(ai: Array[Int], av: Array[Double],
               bi: Array[Int], bv: Array[Double]): Double =
      StrictMath.exp(-gamma * SparseOps.l1DistLocal(ai, av, bi, bv))
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
