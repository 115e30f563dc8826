package graft.ml

import org.apache.spark.sql.Column
import graft.functions.VectorOps

/** §2.1 M2–M5: the four PSVM kernels (reference: psvm kernel.cc,
  * kernel_type 0–3). Column forms use the fused native expressions
  * (single codegen'd loop per pair, sequential accumulation identical to
  * the HOF forms and the DuckDB oracles); plain-Scala twins serve
  * driver/executor-local math (Nyström/ICF pivots, streamed SV scoring).
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

  private def dotLocal(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  case object Linear extends Kernel {
    val name = "linear"
    def apply(a: Column, b: Column): Column =
      graft.functions.GraftFunctions.dot_product(a, b)
    def apply(a: Array[Double], b: Array[Double]): Double = dotLocal(a, b)
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
    def apply(a: Array[Double], b: Array[Double]): Double =
      StrictMath.pow(gamma * dotLocal(a, b) + coef0, degree)
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
    def apply(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0; var i = 0
      while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
      StrictMath.exp(-gamma * s)
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
    def apply(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0; var i = 0
      while (i < n) { s += math.abs(a(i) - b(i)); i += 1 }
      StrictMath.exp(-gamma * s)
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
