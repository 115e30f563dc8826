package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize

/** Platt scaling: fit a sigmoid P(y=+1|f) = 1 / (1 + exp(A·f + B)) over
  * a classifier's decision values (Platt 1999, with the Newton/backtrack
  * refinements of Lin–Lin–Weng 2007). The reference's predict path emits
  * raw decision values only; this adds the standard probability
  * calibration layer on top — the fitted (A, B) pair is data, so scoring
  * stays oracle-checkable even though the fit is iterative.
  *
  * Scale shape: the driver holds exactly two scalars (A, B); every
  * Newton step is ONE distributed aggregate over the (decision, target)
  * table, plus one per accepted/rejected backtrack step — the same
  * bounded-driver-state pattern as [[Ipm]]. No decision values are ever
  * collected.
  */
object Platt {

  final case class PlattModel(a: Double, b: Double)

  /** Fit on a scored DataFrame: `decisionCol` (double) + `labelCol`
    * (±1). Uses Platt's smoothed targets t⁺=(N⁺+1)/(N⁺+2), t⁻=1/(N⁻+2)
    * and Newton iterations with backtracking line search on the
    * cross-entropy objective.
    *
    * Default tol 1e-4 on the gradient: with 6-decimal-rounded
    * probability outputs, tightening further buys digits the output
    * can't express — on noisy labels (a flat objective) the 1e-5 tail
    * alone doubled the iteration count. Correctness never depends on
    * convergence anyway: the oracle replays whatever (A, B) got SAVED. */
  def fit(scored: DataFrame, decisionCol: String, labelCol: String,
          maxIter: Int = 25, minStep: Double = 1e-10,
          sigma: Double = 1e-12, tol: Double = 1e-4): PlattModel = {
    // The Newton loop evaluates ~25-50 points, each a full-data pass
    // parameterized by the CURRENT (a, b). As DataFrame aggregates those
    // scalars become literals, so every evaluation generates (and
    // janino-compiles) a UNIQUE whole-stage source — the fit cost was
    // measured to be dominated by per-iteration codegen, not data. The
    // idiomatic shape for an iterative scalar fit is MLlib's own
    // optimizer pattern: cache the narrow (f, y) pairs once and
    // treeAggregate with closure-captured coefficients — still fully
    // distributed (driver holds six doubles per pass), zero codegen per
    // iteration.
    val base0 = scored.select(
      col(decisionCol).cast("double").as("f"),
      col(labelCol).cast("double").as("y"))
    // Calibration sets are bounded by design (a sampled slice, not the
    // corpus), but the scored table arrives 32-way partitioned from the
    // upstream shuffle — at ~25 aggregate jobs per fit, empty task
    // overhead would dominate. Compact to IPM's blocks (~50k
    // rows/partition) instead of assuming small.
    val raw = base0.rdd.map(r => (r.getDouble(0), r.getDouble(1)))
    val nRaw = raw.getNumPartitions
    Materialize.scoped(raw) {
      val (nPosL, nNegL) = raw.treeAggregate((0L, 0L))(
        (acc, ft) => if (ft._2 > 0) (acc._1 + 1, acc._2) else (acc._1, acc._2 + 1),
        (x, y) => (x._1 + y._1, x._2 + y._2))
      val parts = Ipm.blockCount(nPosL + nNegL, nRaw)
      if (parts < nRaw) {
        // cached in turn: its first pass reads `raw`'s cache
        val c = raw.coalesce(parts)
        Materialize.scoped(c)(
          newton(c, nPosL.toDouble, nNegL.toDouble, maxIter, minStep, sigma, tol))
      } else newton(raw, nPosL.toDouble, nNegL.toDouble, maxIter, minStep, sigma, tol)
    }
  }

  /** [[fit]]'s Newton loop over the cached (f, y) pairs. */
  private def newton(df: RDD[(Double, Double)], nPos: Double, nNeg: Double,
                     maxIter: Int, minStep: Double, sigma: Double, tol: Double): PlattModel = {
    val hi = (nPos + 1.0) / (nPos + 2.0)
    val lo = 1.0 / (nNeg + 2.0)

    /** ONE aggregate job per evaluation point: the cross-entropy
      * objective AND the full gradient/Hessian at (a, b). The line
      * search only needs the objective, but an ACCEPTED trial point is
      * exactly where the next Newton iteration needs its gradient — so
      * computing both in the same data pass halves the job count (one
      * job per iteration when step=1 is accepted, which is the common
      * case near the optimum). A rejected trial wastes five extra sums
      * inside a pass it was paying for anyway. */
    def evalPoint(a: Double, b: Double): (Double, Double, Double, Double, Double, Double) = {
      df.treeAggregate((0.0, 0.0, 0.0, 0.0, 0.0, 0.0))(
        (acc, ft) => {
          val f = ft._1
          val t = if (ft._2 > 0) hi else lo
          val z = f * a + b
          // numerically-stable cross-entropy: branch on the sign of
          // A·f+B; stable p = 1/(1+exp(z)) either side of overflow
          val (o, p) =
            if (z >= 0) (t * z + math.log1p(math.exp(-z)),
              math.exp(-z) / (math.exp(-z) + 1.0))
            else ((t - 1.0) * z + math.log1p(math.exp(z)),
              1.0 / (1.0 + math.exp(z)))
          val d1 = t - p
          val d2 = p * (1.0 - p)
          (acc._1 + o, acc._2 + f * d1, acc._3 + d1,
            acc._4 + f * f * d2, acc._5 + d2, acc._6 + f * d2)
        },
        (x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3,
          x._4 + y._4, x._5 + y._5, x._6 + y._6))
    }

    var a = 0.0
    var b = math.log((nNeg + 1.0) / (nPos + 1.0))
    var cur = evalPoint(a, b)
    var fv = cur._1
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val (_, g1, g2, h11r, h22r, h21) = cur
      if (math.abs(g1) < tol && math.abs(g2) < tol) converged = true
      else {
        val h11 = h11r + sigma
        val h22 = h22r + sigma
        val det = h11 * h22 - h21 * h21
        // Newton direction on the NEGATIVE gradient (obj uses t−p form)
        val dA = -(h22 * g1 - h21 * g2) / det
        val dB = -(-h21 * g1 + h11 * g2) / det
        val gd = g1 * dA + g2 * dB
        var step = 1.0
        var accepted = false
        while (step >= minStep && !accepted) {
          val na = a + step * dA
          val nb = b + step * dB
          val trial = evalPoint(na, nb)
          if (trial._1 < fv + 1e-4 * step * gd) {
            a = na; b = nb; fv = trial._1; cur = trial; accepted = true
          } else step = step / 2.0
        }
        if (!accepted) converged = true // line search failed: at optimum
      }
      it += 1
    }
    PlattModel(a, b)
  }

  /** Probability column for a decision column under a fitted model. */
  def probability(decision: Column, m: PlattModel): Column =
    lit(1.0) / (lit(1.0) + exp(decision * m.a + lit(m.b)))
}
