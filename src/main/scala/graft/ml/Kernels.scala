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
  /** Block form, one vector against many: `out(j)` = k(a, bs(from + j))
    * for j in [0, n), bit for bit the pair form's value. Partners are
    * taken 4 per pass over `a`: each pair keeps its own accumulator,
    * summed in the pair form's dimension order and clamped to the shorter
    * array, so the 4 sums differ from the pair form's only in running
    * side by side (4 independent additions in flight instead of one
    * serial chain). All four kernels are symmetric bit for bit (a·b =
    * b·a, and a − b = −(b − a) exactly under round-to-nearest), so `a`
    * may stand on either side of the pair form it replaces. */
  def apply(a: Array[Double], bs: Array[Array[Double]], from: Int, n: Int,
            out: Array[Double]): Unit
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

  /** A sum over the first min(|a|, |b|) dimensions of a pair, in
    * dimension order: the dense kernels are functions of one of these. */
  private sealed abstract class PairSum extends Serializable {
    /** `s` plus the terms of dimensions [i0, until). */
    def from(s: Double, a: Array[Double], b: Array[Double], i0: Int, until: Int): Double
    /** The sums of `a` against b0…b3 into out(o…o+3): one pass over the
      * dimensions all four share, then each pair's own clamp tail. */
    def four(a: Array[Double], b0: Array[Double], b1: Array[Double], b2: Array[Double],
             b3: Array[Double], out: Array[Double], o: Int): Unit

    final def one(a: Array[Double], b: Array[Double]): Double =
      from(0.0, a, b, 0, math.min(a.length, b.length))

    /** out(j) = one(a, bs(first + j)) for j in [0, n), 4 partners per pass. */
    final def block(a: Array[Double], bs: Array[Array[Double]], first: Int, n: Int,
                    out: Array[Double]): Unit = {
      var j = 0
      while (j + 4 <= n) {
        val b = first + j
        four(a, bs(b), bs(b + 1), bs(b + 2), bs(b + 3), out, j)
        j += 4
      }
      while (j < n) { out(j) = one(a, bs(first + j)); j += 1 }
    }

    /** The dimensions all of b0…b3 share with `a`. */
    protected final def shared(a: Array[Double], b0: Array[Double], b1: Array[Double],
                               b2: Array[Double], b3: Array[Double]): Int =
      math.min(math.min(a.length, math.min(b0.length, b1.length)),
        math.min(b2.length, b3.length))

    /** Finishes a pair that [[four]] summed over its first `m` dimensions. */
    protected final def tail(s: Double, a: Array[Double], b: Array[Double], m: Int): Double =
      from(s, a, b, m, math.min(a.length, b.length))
  }

  /** Σ a·b. */
  private object Dot extends PairSum {
    def from(s0: Double, a: Array[Double], b: Array[Double], i0: Int, until: Int): Double = {
      var s = s0; var i = i0
      while (i < until) { s += a(i) * b(i); i += 1 }
      s
    }
    def four(a: Array[Double], b0: Array[Double], b1: Array[Double], b2: Array[Double],
             b3: Array[Double], out: Array[Double], o: Int): Unit = {
      val m = shared(a, b0, b1, b2, b3)
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0; var i = 0
      while (i < m) {
        val ai = a(i)
        s0 += ai * b0(i); s1 += ai * b1(i); s2 += ai * b2(i); s3 += ai * b3(i)
        i += 1
      }
      out(o) = tail(s0, a, b0, m); out(o + 1) = tail(s1, a, b1, m)
      out(o + 2) = tail(s2, a, b2, m); out(o + 3) = tail(s3, a, b3, m)
    }
  }

  /** Σ (a − b)². */
  private object SqDist extends PairSum {
    def from(s0: Double, a: Array[Double], b: Array[Double], i0: Int, until: Int): Double = {
      var s = s0; var i = i0
      while (i < until) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def four(a: Array[Double], b0: Array[Double], b1: Array[Double], b2: Array[Double],
             b3: Array[Double], out: Array[Double], o: Int): Unit = {
      val m = shared(a, b0, b1, b2, b3)
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0; var i = 0
      while (i < m) {
        val ai = a(i)
        val d0 = ai - b0(i); val d1 = ai - b1(i); val d2 = ai - b2(i); val d3 = ai - b3(i)
        s0 += d0 * d0; s1 += d1 * d1; s2 += d2 * d2; s3 += d3 * d3
        i += 1
      }
      out(o) = tail(s0, a, b0, m); out(o + 1) = tail(s1, a, b1, m)
      out(o + 2) = tail(s2, a, b2, m); out(o + 3) = tail(s3, a, b3, m)
    }
  }

  /** Σ |a − b|. */
  private object L1Dist extends PairSum {
    def from(s0: Double, a: Array[Double], b: Array[Double], i0: Int, until: Int): Double = {
      var s = s0; var i = i0
      while (i < until) { s += math.abs(a(i) - b(i)); i += 1 }
      s
    }
    def four(a: Array[Double], b0: Array[Double], b1: Array[Double], b2: Array[Double],
             b3: Array[Double], out: Array[Double], o: Int): Unit = {
      val m = shared(a, b0, b1, b2, b3)
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0; var i = 0
      while (i < m) {
        val ai = a(i)
        s0 += math.abs(ai - b0(i)); s1 += math.abs(ai - b1(i))
        s2 += math.abs(ai - b2(i)); s3 += math.abs(ai - b3(i))
        i += 1
      }
      out(o) = tail(s0, a, b0, m); out(o + 1) = tail(s1, a, b1, m)
      out(o + 2) = tail(s2, a, b2, m); out(o + 3) = tail(s3, a, b3, m)
    }
  }

  case object Linear extends Kernel {
    val name = "linear"
    def apply(a: Column, b: Column): Column =
      graft.functions.GraftFunctions.dot_product(a, b)
    def apply(a: Array[Double], b: Array[Double]): Double = Dot.one(a, b)
    def apply(a: Array[Double], bs: Array[Array[Double]], from: Int, n: Int,
              out: Array[Double]): Unit = Dot.block(a, bs, from, n, out)
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
    def apply(a: Array[Double], bs: Array[Array[Double]], from: Int, n: Int,
              out: Array[Double]): Unit = {
      Dot.block(a, bs, from, n, out)
      var j = 0; while (j < n) { out(j) = ofDot(out(j)); j += 1 }
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
    def apply(a: Array[Double], bs: Array[Array[Double]], from: Int, n: Int,
              out: Array[Double]): Unit = {
      SqDist.block(a, bs, from, n, out)
      var j = 0; while (j < n) { out(j) = StrictMath.exp(-gamma * out(j)); j += 1 }
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
    def apply(a: Array[Double], bs: Array[Array[Double]], from: Int, n: Int,
              out: Array[Double]): Unit = {
      L1Dist.block(a, bs, from, n, out)
      var j = 0; while (j < n) { out(j) = StrictMath.exp(-gamma * out(j)); j += 1 }
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
