package graft.ml

import breeze.linalg.{DenseMatrix, DenseVector, inv}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.reflect.ClassTag

/** §2.1 M7 (fidelity path): primal-dual Interior Point Method for the
  * SVM dual QP on an ICF/Nyström factor (reference: psvm ipm.cc and the
  * PSVM paper's SMW formulation).
  *
  *   min ½αᵀQα − eᵀα   s.t. 0 ≤ α ≤ C,  yᵀα = 0,   Q = GGᵀ, G = diag(y)·H
  *
  * Every Newton step needs (Q + D)⁻¹·v for diagonal D; with the low-rank
  * factor the Sherman–Morrison–Woodbury identity turns that into
  *   D⁻¹v − D⁻¹G (Iₚ + GᵀD⁻¹G)⁻¹ GᵀD⁻¹v,
  * i.e. elementwise n-vector work + p-vector reductions + one p×p solve.
  *
  * Spark re-expression: rows live in per-partition BLOCKS (primitive
  * arrays of y, h, α) — n-vectors never touch the driver; the driver
  * holds only p-sized state. This is the same data layout and
  * communication pattern as the reference's MPI implementation, with
  * [[aggregateInOrder]] (per-partition partials added on the driver in
  * partition order) playing the role of all-reduce.
  *
  * Per-iteration work: ONE O(n·p) pass builds Gᵀα, ONE O(n·p) pass
  * computes the per-row dot qaᵢ = (Gᵀα)·hᵢ (plus block-partial gap
  * terms), then the SMW pass does the irreducible O(n·p²) Gram
  * accumulation reading qa back in O(1) per row, and the Δα pass reuses
  * qa the same way.
  *
  * [[newton]] runs the loop over given blocks; [[dual]] builds them from
  * a DataFrame, one per input partition. Cost per block count:
  *   - one block (the m = 1 case of the paper's cost model, where the
  *     all-reduce is the identity): the whole Newton loop, p×p core solve
  *     included, runs inside the block's one task — one Spark job for the
  *     solve;
  *   - several blocks: each iteration is five jobs (Gᵀα, gap, SMW Gram,
  *     step, materialize) with the p×p core solved on the driver.
  * Both run the same per-block steps, and the one-block loop merges each
  * aggregate as a one-partition treeAggregate did (adding the partial
  * into a zero twice, which gives the bits adding it once gives), so the
  * alphas, iteration count and gap are the same bits either way. On
  * several blocks the partials are added in partition order, so a solve
  * repeats bit for bit.
  *
  * `checkpointDir`: psvm-style fault tolerance — every `checkpointEvery`
  * iterations the α blocks land in parquet plus an (iter, ν) marker
  * ([[ResumeMarker]]); a rerun pointed at the same dir resumes from the
  * last completed checkpoint instead of iteration 0. On one block the
  * in-task loop then runs in segments of `checkpointEvery` iterations,
  * one job each. Resume rebuilds the blocks through a keyed join, so
  * float accumulation order may differ in the last ulps from the
  * uninterrupted run — the QP optimum it converges to is the same (and
  * the resume spec asserts agreement to 1e-6).
  */
object Ipm {

  /** One partition's rows, column-compressed. */
  final case class Block(y: Array[Double], h: Array[Array[Double]], alpha: Array[Double])

  /** Block count for a data set that several passes run over: ~50k rows
    * per block, never more blocks than `numPartitions`. Each pass pays
    * per-task overhead once per block, so thin blocks pay it many times
    * over; wide inputs keep their parallelism, toy inputs stop paying for
    * empty tasks. One block is the case [[Icf]] and [[solve]] run in a
    * single task. */
  private[ml] def blockCount(nRows: Long, numPartitions: Int): Int =
    math.max(1, math.min(numPartitions, (nRows / 50000L).toInt + 1))

  /** A dual solution: the final (ids, block) pairs, the iterations run
    * and the last surrogate gap. A one-block solution is cached by the
    * loop that built it; `release` drops that cache (the blocks then
    * recompute from lineage). A multi-block solution stays cached: its
    * lineage runs through local checkpoints. */
  private[ml] final case class Dual(blocks: RDD[(Array[Long], Block)], iterations: Int, gap: Double,
                                    cached: Option[RDD[_]]) {
    def release(): Unit = cached.foreach(_.unpersist(false))
  }

  /** The driver-side loop state: iterations done, ν, and the surrogate
    * gap at the start of the last iteration. */
  private final case class Newton(iter: Int, nu: Double, gap: Double) {
    /** The barrier parameter of this iteration: μ·2n / gap, μ = 10. */
    def t(n: Long): Double = 10.0 * 2.0 * n / math.max(gap, 1e-12)
    def stepped(step: Double, deltaNu: Double): Newton = Newton(iter + 1, nu + step * deltaNu, gap)
  }

  /** The block sums of one Newton system: GᵀD⁻¹G, GᵀD⁻¹grad, GᵀD⁻¹y,
    * yᵀD⁻¹y and yᵀD⁻¹grad. */
  private final case class Smw(gdg: DenseMatrix[Double], gdGrad: DenseVector[Double],
                               gdY: DenseVector[Double], yDy: Double, yDgrad: Double)

  private def smwZero(p: Int): Smw =
    Smw(DenseMatrix.zeros[Double](p, p), DenseVector.zeros[Double](p),
        DenseVector.zeros[Double](p), 0.0, 0.0)

  /** `rdd`'s aggregate in one job: each partition folds its elements
    * with `seqOp` from `zero`, and the driver adds the partials with
    * `combOp` in partition order. (A `treeAggregate` ends in an
    * `RDD.fold`, which merges the partials in task-completion order, so
    * its float sums could differ in the last bits from run to run.) */
  private[ml] def aggregateInOrder[T, U: ClassTag](rdd: RDD[T])(zero: => U)(
      seqOp: (U, T) => U, combOp: (U, U) => U): U =
    rdd.mapPartitions(it => Iterator.single(it.foldLeft(zero)(seqOp)))
      .collect().foldLeft(zero)(combOp)

  /** Gᵀα over several blocks, in partition order. */
  private[ml] def gTalpha(blocks: RDD[(Array[Long], Block)], p: Int): Array[Double] =
    aggregateInOrder(blocks)(new Array[Double](p))((acc, ib) => addGTalpha(acc, ib._2), addInto)

  // ---- the per-block steps: the driver loop folds them across blocks
  // with aggregateInOrder/reduce, the one-block loop calls them in its task

  /** Adds the block's Gᵀα (at the solution, w = Σ αᵢyᵢhᵢ) into `acc`. */
  private[ml] def addGTalpha(acc: Array[Double], b: Block): Array[Double] = {
    val p = acc.length
    var i = 0
    while (i < b.alpha.length) {
      val hi = b.h(i); val ai = b.alpha(i); var j = 0
      while (j < p) { acc(j) += hi(j) * ai; j += 1 }
      i += 1
    }
    acc
  }

  private[ml] def addInto(a1: Array[Double], a2: Array[Double]): Array[Double] = {
    var j = 0; while (j < a1.length) { a1(j) += a2(j); j += 1 }; a1
  }

  private def addPairs(a: (Double, Double), b: (Double, Double)): (Double, Double) =
    (a._1 + b._1, a._2 + b._2)

  /** Per row qaᵢ = hᵢ·(Gᵀα), and the block's partials of the surrogate
    * gap and of yᵀα:
    *   gap = Σ [αᵢ·grad0ᵢ⁺ + (Cᵢ−αᵢ)·(−grad0ᵢ)⁺],  grad0 = Qα − e + νy */
  private def qaPass(b: Block, gTalpha: Array[Double], nu: Double,
                     cPos: Double, cNeg: Double): (Array[Double], Double, Double) = {
    val p = gTalpha.length
    val qa = new Array[Double](b.alpha.length)
    var g = 0.0; var ya = 0.0
    var i = 0
    while (i < b.alpha.length) {
      val hi = b.h(i)
      var q = 0.0; var j = 0
      while (j < p) { q += hi(j) * gTalpha(j); j += 1 }
      qa(i) = q
      val grad0 = q - 1.0 + nu * b.y(i)
      val ai = b.alpha(i)
      val ci = if (b.y(i) > 0) cPos else cNeg
      g += (if (grad0 > 0) ai * grad0 else (ci - ai) * -grad0)
      ya += b.y(i) * ai
      i += 1
    }
    (qa, g, ya)
  }

  /** Row i's gradient of the barrier objective, given qaᵢ. */
  private def barrierGrad(qa: Double, nu: Double, y: Double, t: Double,
                          a: Double, c: Double): Double =
    qa - 1.0 + nu * y - (1.0 / (t * a)) + (1.0 / (t * (c - a)))

  /** Row i's D⁻¹: the inverse of the barrier Hessian's diagonal. */
  private def hessianInv(t: Double, a: Double, c: Double): Double =
    1.0 / (1.0 / (t * a * a) + 1.0 / (t * (c - a) * (c - a)))

  /** Adds the block's SMW ingredients, with D from the barrier Hessian,
    * into `acc` — ONE row loop: grad/dInv are O(1) per row given qa; the
    * O(p²) Gram update is the irreducible core. */
  private def addSmw(acc: Smw, b: Block, qa: Array[Double], nu: Double, t: Double,
                     cPos: Double, cNeg: Double): Smw = {
    val p = acc.gdY.length
    val (m, vg, vy) = (acc.gdg, acc.gdGrad, acc.gdY)
    var acc1 = acc.yDy; var acc2 = acc.yDgrad
    var i = 0
    while (i < b.alpha.length) {
      val hi = b.h(i); val ai = b.alpha(i)
      val ci = if (b.y(i) > 0) cPos else cNeg
      val grad = barrierGrad(qa(i), nu, b.y(i), t, ai, ci)
      val dInv = hessianInv(t, ai, ci)
      acc1 += b.y(i) * dInv * b.y(i)
      acc2 += b.y(i) * dInv * grad
      var j1 = 0
      while (j1 < p) {
        val w = dInv * hi(j1)
        vg(j1) += w * grad
        vy(j1) += w * b.y(i)
        var j2 = 0
        while (j2 < p) { m(j1, j2) += w * hi(j2); j2 += 1 }
        j1 += 1
      }
      i += 1
    }
    Smw(m, vg, vy, acc1, acc2)
  }

  private def mergeSmw(a: Smw, b: Smw): Smw =
    Smw(a.gdg + b.gdg, a.gdGrad + b.gdGrad, a.gdY + b.gdY, a.yDy + b.yDy, a.yDgrad + b.yDgrad)

  /** The p×p SMW core: u = (Q+D)⁻¹grad and w = (Q+D)⁻¹y get the
    * corrections core·GᵀD⁻¹grad and core·GᵀD⁻¹y; Δν restores
    * feasibility, yᵀΔα = −yᵀα with Δα = −u − Δν·w. Returns the two
    * corrections and Δν. */
  private def newtonCore(s: Smw, yTalpha: Double): (Array[Double], Array[Double], Double) = {
    val core = inv(DenseMatrix.eye[Double](s.gdY.length) + s.gdg)
    val corrU: DenseVector[Double] = core * s.gdGrad
    val corrW: DenseVector[Double] = core * s.gdY
    // yᵀu = yᵀD⁻¹grad − (GᵀD⁻¹y)ᵀ·corrU ; yᵀw likewise
    val yTu = s.yDgrad - (s.gdY dot corrU)
    val yTw = s.yDy - (s.gdY dot corrW)
    val deltaNu = (yTalpha - yTu) / (if (math.abs(yTw) < 1e-12) 1e-12 else yTw)
    (corrU.toArray, corrW.toArray, deltaNu)
  }

  /** Δα per row (qa reused — only the two SMW dots are O(p)) and the
    * block's largest feasible step. */
  private def direction(b: Block, qa: Array[Double], nu: Double, t: Double,
                        corrU: Array[Double], corrW: Array[Double], deltaNu: Double,
                        cPos: Double, cNeg: Double): (Array[Double], Double) = {
    val p = corrU.length
    var minStep = 1.0
    val deltas = new Array[Double](b.alpha.length)
    var i = 0
    while (i < b.alpha.length) {
      val hi = b.h(i); val ai = b.alpha(i)
      val ci = if (b.y(i) > 0) cPos else cNeg
      val grad = barrierGrad(qa(i), nu, b.y(i), t, ai, ci)
      val dInv = hessianInv(t, ai, ci)
      var smwU = 0.0; var smwW = 0.0; var j2 = 0
      while (j2 < p) { smwU += hi(j2) * corrU(j2); smwW += hi(j2) * corrW(j2); j2 += 1 }
      val u = dInv * (grad - smwU)
      val w = dInv * (b.y(i) - smwW)
      val dAlpha = -u - deltaNu * w
      deltas(i) = dAlpha
      if (dAlpha < 0 && ai + dAlpha < 0) minStep = math.min(minStep, -ai / dAlpha * 0.99)
      if (dAlpha > 0 && ai + dAlpha > ci) minStep = math.min(minStep, (ci - ai) / dAlpha * 0.99)
      i += 1
    }
    (deltas, minStep)
  }

  /** The block after the α update α + step·Δα, kept strictly inside the box. */
  private def stepped(b: Block, deltas: Array[Double], step: Double,
                      cPos: Double, cNeg: Double): Block = {
    val na = new Array[Double](b.alpha.length)
    var i = 0
    while (i < na.length) {
      val ci = if (b.y(i) > 0) cPos else cNeg
      na(i) = math.min(math.max(b.alpha(i) + step * deltas(i), 1e-12 * ci),
                       ci * (1.0 - 1e-12))
      i += 1
    }
    Block(b.y, b.h, na)
  }

  /** A one-partition treeAggregate's merge of `elem`: the seqOp from a
    * zero, then the two combOp merges into fresh zeros that Spark's fold
    * made (task side, then driver side) — their `0.0 +` included, which
    * leaves the bits [[aggregateInOrder]]'s one merge gives. */
  private def oneBlock[T, U](zero: => U)(seqOp: (U, T) => U, combOp: (U, U) => U)(elem: T): U =
    combOp(zero, combOp(zero, seqOp(zero, elem)))

  /** The one-block loop, run inside the block's task: Newton steps from
    * `s0` until `until` iterations or the gap reaches `tol`. */
  private def newtonSegment(b0: Block, s0: Newton, until: Int, tol: Double, n: Long, p: Int,
                            cPos: Double, cNeg: Double): (Block, Newton) = {
    var b = b0
    var s = s0
    while (s.iter < until && s.gap > tol) {
      val gTalpha = oneBlock(new Array[Double](p))(addGTalpha, addInto)(b)
      val (qa, g, ya) = qaPass(b, gTalpha, s.nu, cPos, cNeg)
      val (gap, yTalpha) = oneBlock((0.0, 0.0))(addPairs, addPairs)((g, ya))
      s = s.copy(gap = gap)
      if (gap <= tol) s = s.copy(iter = s.iter + 1)
      else {
        val t = s.t(n)
        val smw = oneBlock(smwZero(p))(
          (acc: Smw, blk: Block) => addSmw(acc, blk, qa, s.nu, t, cPos, cNeg), mergeSmw)(b)
        val (corrU, corrW, deltaNu) = newtonCore(smw, yTalpha)
        val (deltas, step) = direction(b, qa, s.nu, t, corrU, corrW, deltaNu, cPos, cNeg)
        b = stepped(b, deltas, step, cPos, cNeg)
        s = s.stepped(step, deltaNu)
      }
    }
    (b, s)
  }

  /** Solve the dual on (id, y∈{±1}, h: Array[Double] rank-p rows).
    * Returns per-row alphas (kept distributed; collect them for
    * diagnostics), the iterations run and the last surrogate gap.
    *
    * `posWeight`/`negWeight` scale the box constraint per class
    * (libsvm `-wi`, psvm svm_train weighted-C): 0 ≤ αᵢ ≤ C·w_{yᵢ}. */
  def solve(data: DataFrame, idCol: String, labelCol: String, hCol: String,
            c: Double, maxIter: Int = 50, tol: Double = 1e-6,
            posWeight: Double = 1.0, negWeight: Double = 1.0,
            checkpointDir: Option[String] = None,
            checkpointEvery: Int = 10): (RDD[(Long, Double)], Int, Double) = {
    val d = dual(data, idCol, labelCol, hCol, c, maxIter, tol, posWeight, negWeight,
      checkpointDir, checkpointEvery)
    (d.blocks.flatMap { case (ids, b) => ids.zip(b.alpha) }, d.iterations, d.gap)
  }

  /** [[solve]] as a [[Dual]] (releasable); one pass reads n and p. */
  private[ml] def dual(data: DataFrame, idCol: String, labelCol: String, hCol: String,
                       c: Double, maxIter: Int = 50, tol: Double = 1e-6,
                       posWeight: Double = 1.0, negWeight: Double = 1.0,
                       checkpointDir: Option[String] = None,
                       checkpointEvery: Int = 10): Dual = {
    val cPos = c * posWeight
    val cNeg = c * negWeight
    import org.apache.spark.sql.functions.col
    val spark = data.sparkSession
    val rows: RDD[(Long, Double, Array[Double])] = data
      .select(col(idCol).cast("long"), col(labelCol).cast("double"), col(hCol))
      .rdd.map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Double](2).toArray))

    // ---- checkpoint restore: (iter, nu) marker + saved alphas ----
    val restored: Option[(Int, Double, RDD[(Long, Double)])] =
      checkpointDir.flatMap { dir =>
        ResumeMarker.read(spark, dir).map { state =>
          val Array(it, nuS) = state.split(' ')
          val saved = spark.read.parquet(s"$dir/alphas")
            .rdd.map(r => (r.getLong(0), r.getDouble(1)))
          (it.toInt, nuS.toDouble, saved)
        }
      }

    val withAlpha: RDD[(Long, Double, Array[Double], Double)] = restored match {
      case None =>
        rows.map(t => (t._1, t._2, t._3, (if (t._2 > 0) cPos else cNeg) / 2.0))
      case Some((_, _, saved)) =>
        rows.map(t => (t._1, t)).join(saved)
          .map { case (id, (t, a)) => (id, t._2, t._3, a) }
    }
    val blocks: RDD[(Array[Long], Block)] = withAlpha.mapPartitions { it =>
      val buf = it.toArray
      if (buf.isEmpty) Iterator.empty
      else Iterator.single((
        buf.map(_._1),
        Block(buf.map(_._2), buf.map(t => t._3.map(v => t._2 * v)), // G = diag(y)·H
              buf.map(_._4))))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = blocks.map { case (_, b) => (b.alpha.length, b.h(0).length) }.collect()
    require(sizes.nonEmpty, "Ipm.solve needs at least one row")
    newton(spark, blocks, sizes.map(_._1.toLong).sum, sizes.head._2, cPos, cNeg, maxIter, tol,
      restored.map(r => (r._1, r._2)), checkpointDir, checkpointEvery)
  }

  /** The Newton loop over (ids, [[Block]]) pairs, `n` rows at rank `p`, box
    * 0 ≤ αᵢ ≤ cPos (yᵢ > 0) or cNeg, from `resumeAt` (iteration, ν) or (0, 0):
    * in the block's task on one partition, else from the driver. */
  private[ml] def newton(spark: SparkSession, input: RDD[(Array[Long], Block)], n: Long, p: Int,
                         cPos: Double, cNeg: Double, maxIter: Int, tol: Double,
                         resumeAt: Option[(Int, Double)] = None,
                         checkpointDir: Option[String] = None, checkpointEvery: Int = 10): Dual = {
    val sc = spark.sparkContext
    var blocks = input
    var s = resumeAt.fold(Newton(0, 0.0, Double.MaxValue))(r => Newton(r._1, r._2, Double.MaxValue))

    def checkpointIfDue(): Unit = checkpointDir.foreach { dir =>
      if (s.gap > tol && s.iter % checkpointEvery == 0 && s.iter < maxIter) {
        ResumeMarker.commit(spark, dir, s"${s.iter} ${s.nu}") {
          val flat = blocks.flatMap { case (ids, b) => ids.zip(b.alpha) }
          spark.createDataFrame(flat).toDF("id", "alpha")
            .write.mode("overwrite").parquet(s"$dir/alphas")
        }
      }
    }

    var cached: Option[RDD[_]] = None
    if (input.getNumPartitions == 1) {
      // the whole loop in the block's task: one job, or one per
      // `checkpointEvery` iterations when each segment ends in a dump
      cached = Some(input)
      while (s.iter < maxIter && s.gap > tol) {
        val s0 = s
        val until =
          if (checkpointDir.isEmpty) maxIter
          else math.min(maxIter, (s0.iter / checkpointEvery + 1) * checkpointEvery)
        val seg = blocks.map { case (ids, b) =>
          val (out, state) = newtonSegment(b, s0, until, tol, n, p, cPos, cNeg)
          (ids, out, state)
        }.persist(StorageLevel.MEMORY_AND_DISK)
        s = seg.map(_._3).collect().head
        cached.foreach(_.unpersist(false))
        cached = Some(seg)
        blocks = seg.map(t => (t._1, t._2))
        checkpointIfDue()
      }
    } else {
      blocks = blocks.persist(StorageLevel.MEMORY_AND_DISK)
      while (s.iter < maxIter && s.gap > tol) {
        // Gᵀα: the only pass that needs every (row × p) product before the
        // per-row dot qaᵢ = Σⱼ hᵢⱼ(Gᵀα)ⱼ is defined
        val gTalphaB = sc.broadcast(gTalpha(blocks, p))

        // qa once per iteration (reused by the SMW and Δα passes below),
        // with the gap/feasibility partials folded into the same pass
        val nu = s.nu
        val withQa: RDD[(Array[Long], Block, Array[Double], Double, Double)] =
          blocks.map { case (ids, b) =>
            val (qa, g, ya) = qaPass(b, gTalphaB.value, nu, cPos, cNeg)
            (ids, b, qa, g, ya)
          }.persist(StorageLevel.MEMORY_AND_DISK)
        val (gap, yTalpha) = aggregateInOrder(withQa.map(t => (t._4, t._5)))((0.0, 0.0))(
          addPairs, addPairs)
        s = s.copy(gap = gap)
        if (gap <= tol) { s = s.copy(iter = s.iter + 1); withQa.unpersist(false) }
        else {
          val t = s.t(n)
          val smw = aggregateInOrder(withQa)(smwZero(p))(
            (acc, e) => addSmw(acc, e._2, e._3, nu, t, cPos, cNeg), mergeSmw)
          // p×p SMW core on the driver
          val (corrU, corrW, deltaNu) = newtonCore(smw, yTalpha)
          val corrB = sc.broadcast((corrU, corrW))

          // Δα per row, max feasible step, then the α update
          val prev = blocks
          val updated = withQa.map { case (ids, b, qa, _, _) =>
            val (deltas, minStep) =
              direction(b, qa, nu, t, corrB.value._1, corrB.value._2, deltaNu, cPos, cNeg)
            (ids, b, deltas, minStep)
          }.persist(StorageLevel.MEMORY_AND_DISK)
          val step = updated.map(_._4).reduce(math.min)
          blocks = updated.map { case (ids, b, deltas, _) =>
            (ids, stepped(b, deltas, step, cPos, cNeg))
          }.persist(StorageLevel.MEMORY_AND_DISK)
          // localCheckpoint: truncates both the lineage and the closure
          // chain (which captures this iteration's broadcasts)
          blocks.localCheckpoint()
          blocks.count()
          updated.unpersist(false)
          withQa.unpersist(false)
          prev.unpersist(false)
          s = s.stepped(step, deltaNu)
          checkpointIfDue()
        }
      }
    }

    Dual(blocks, s.iter, s.gap, cached)
  }
}
