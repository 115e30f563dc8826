package graft.ml

import breeze.linalg.{DenseMatrix, DenseVector, inv}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

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
  * treeAggregate playing the role of all-reduce.
  *
  * Per-iteration work: ONE O(n·p) pass builds Gᵀα, ONE O(n·p) map
  * materializes the per-row dot qaᵢ = (Gᵀα)·hᵢ (plus block-partial gap
  * terms), then the SMW pass does the irreducible O(n·p²) Gram
  * accumulation reading qa back in O(1) per row, and the Δα pass reuses
  * qa the same way. (The first cut recomputed qa in every pass — 4×
  * O(n·p) redundant work per iteration; grad/dInv are O(1) per row once
  * qa is cached, so only the two genuine O(n·p) passes remain.)
  *
  * `checkpointDir`: psvm-style fault tolerance — every `checkpointEvery`
  * iterations the α blocks land in parquet plus an (iter, ν) marker; a
  * rerun pointed at the same dir resumes from the last completed
  * checkpoint instead of iteration 0. Resume rebuilds the blocks through
  * a keyed join, so float accumulation order may differ in the last ulps
  * from the uninterrupted run — the QP optimum it converges to is the
  * same (and the resume spec asserts agreement to 1e-6).
  */
object Ipm {

  /** One partition's rows, column-compressed. */
  final case class Block(y: Array[Double], h: Array[Array[Double]], alpha: Array[Double])

  /** Block count for a data set that several passes run over: ~50k rows
    * per block, never more blocks than `numPartitions`. Each pass pays
    * per-task overhead once per block, so thin blocks pay it many times
    * over; wide inputs keep their parallelism, toy inputs stop paying for
    * empty tasks. */
  private[ml] def blockCount(nRows: Long, numPartitions: Int): Int =
    math.max(1, math.min(numPartitions, (nRows / 50000L).toInt + 1))

  final case class IpmModel(alpha: Array[Double], ids: Array[Long], bias: Double,
                            iterations: Int, surrogateGap: Double)

  /** Solve the dual on (id, y∈{±1}, h: Array[Double] rank-p rows).
    * Returns per-row alphas (collected — O(n) doubles, diagnostics/test
    * use; production scoring keeps alphas distributed, see predictDf).
    *
    * `posWeight`/`negWeight` scale the box constraint per class
    * (libsvm `-wi`, psvm svm_train weighted-C): 0 ≤ αᵢ ≤ C·w_{yᵢ}. */
  def solve(data: DataFrame, idCol: String, labelCol: String, hCol: String,
            c: Double, maxIter: Int = 50, tol: Double = 1e-6,
            posWeight: Double = 1.0, negWeight: Double = 1.0,
            checkpointDir: Option[String] = None,
            checkpointEvery: Int = 10): (RDD[(Long, Double)], Int, Double) = {
    val cPos = c * posWeight
    val cNeg = c * negWeight
    import org.apache.spark.sql.functions.col
    val spark = data.sparkSession
    val rows: RDD[(Long, Double, Array[Double])] = data
      .select(col(idCol).cast("long"), col(labelCol).cast("double"), col(hCol))
      .rdd.map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Double](2).toArray))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val n = rows.count()
    val p = rows.first()._3.length
    val sc = rows.sparkContext

    // ---- checkpoint restore: (iter, nu) marker + saved alphas ----
    val restored: Option[(Int, Double, RDD[(Long, Double)])] =
      checkpointDir.flatMap { dir =>
        val marker = new java.io.File(s"$dir/state")
        if (!marker.exists()) None
        else {
          val Array(it, nuS) = {
            val src = scala.io.Source.fromFile(marker)
            try src.mkString.trim.split(' ') finally src.close()
          }
          val saved = spark.read.parquet(s"$dir/alphas")
            .rdd.map(r => (r.getLong(0), r.getDouble(1)))
          Some((it.toInt, nuS.toDouble, saved))
        }
      }

    // block layout: ids stay alongside so alphas can be re-keyed at the end
    // (keep the input's partitioning: coalescing small inputs to one
    // block was measured SLOWER — it serializes each iteration's
    // aggregation passes, which outweighs the saved task overhead)
    def buildBlocks(alphaOf: Option[RDD[(Long, Double)]]): RDD[(Array[Long], Block)] = {
      val withAlpha: RDD[(Long, Double, Array[Double], Double)] = alphaOf match {
        case None =>
          rows.map(t => (t._1, t._2, t._3, (if (t._2 > 0) cPos else cNeg) / 2.0))
        case Some(saved) =>
          rows.map(t => (t._1, t)).join(saved)
            .map { case (id, (t, a)) => (id, t._2, t._3, a) }
      }
      withAlpha.mapPartitions { it =>
        val buf = it.toArray
        if (buf.isEmpty) Iterator.empty
        else Iterator.single((
          buf.map(_._1),
          Block(buf.map(_._2), buf.map(t => t._3.map(v => t._2 * v)), // G = diag(y)·H
                buf.map(_._4))))
      }
    }

    var blocks: RDD[(Array[Long], Block)] =
      buildBlocks(restored.map(_._3)).persist(StorageLevel.MEMORY_AND_DISK)
    blocks.count()
    rows.unpersist(false)

    var nu = restored.map(_._2).getOrElse(0.0)
    var iter = restored.map(_._1).getOrElse(0)
    var gap = Double.MaxValue
    val mu = 10.0

    def writeCheckpoint(): Unit = checkpointDir.foreach { dir =>
      import spark.implicits._
      val flat = blocks.flatMap { case (ids, b) => ids.zip(b.alpha) }
      spark.createDataFrame(flat).toDF("id", "alpha")
        .write.mode("overwrite").parquet(s"$dir/alphas")
      // marker LAST: a state file only ever points at a fully-written dump
      val w = new java.io.PrintWriter(s"$dir/state")
      try w.print(s"$iter $nu") finally w.close()
    }

    while (iter < maxIter && gap > tol) {
      // Gᵀα: the only pass that needs every (row × p) product before the
      // per-row dot qaᵢ = Σⱼ hᵢⱼ(Gᵀα)ⱼ is defined
      val gTalpha = blocks.treeAggregate(new Array[Double](p))(
        seqOp = { case (acc, (_, b)) =>
          var i = 0
          while (i < b.alpha.length) {
            val hi = b.h(i); val ai = b.alpha(i); var j = 0
            while (j < p) { acc(j) += hi(j) * ai; j += 1 }
            i += 1
          }
          acc
        },
        combOp = { (a1, a2) => var j = 0; while (j < p) { a1(j) += a2(j); j += 1 }; a1 })
      val gTalphaB = sc.broadcast(gTalpha)

      // materialize qa once per iteration (reused by the SMW and Δα
      // passes below), and fold the surrogate-gap/feasibility partials
      // into the same O(n·p) pass:
      //   gap = Σ [αᵢ·grad0ᵢ⁺ + (Cᵢ−αᵢ)·(−grad0ᵢ)⁺],  grad0 = Qα − e + νy
      val nuLocal = nu
      val withQa: RDD[(Array[Long], Block, Array[Double], Double, Double)] =
        blocks.map { case (ids, b) =>
          val qa = new Array[Double](b.alpha.length)
          var g = 0.0; var ya = 0.0
          var i = 0
          while (i < b.alpha.length) {
            val hi = b.h(i)
            var q = 0.0; var j = 0
            while (j < p) { q += hi(j) * gTalphaB.value(j); j += 1 }
            qa(i) = q
            val grad0 = q - 1.0 + nuLocal * b.y(i)
            val ai = b.alpha(i)
            val ci = if (b.y(i) > 0) cPos else cNeg
            g += (if (grad0 > 0) ai * grad0 else (ci - ai) * -grad0)
            ya += b.y(i) * ai
            i += 1
          }
          (ids, b, qa, g, ya)
        }.persist(StorageLevel.MEMORY_AND_DISK)
      val (gapNow, yTalpha) = withQa
        .map(t => (t._4, t._5))
        .treeAggregate((0.0, 0.0))(
          seqOp = { case ((g1, y1), (g2, y2)) => (g1 + g2, y1 + y2) },
          combOp = { case ((g1, y1), (g2, y2)) => (g1 + g2, y1 + y2) })
      gap = gapNow
      if (gap <= tol) { iter += 1; withQa.unpersist(false) }
      else {
        val t = mu * 2.0 * n / math.max(gap, 1e-12)

        // SMW ingredients with D from the barrier Hessian — ONE row loop:
        // grad/dInv are O(1) per row given qa; the O(p²) Gram update is
        // the irreducible core. (The first cut ran a second identical
        // block loop just for the yᵀD⁻¹y / yᵀD⁻¹grad scalars.)
        val zero = (DenseMatrix.zeros[Double](p, p), DenseVector.zeros[Double](p),
                    DenseVector.zeros[Double](p), 0.0, 0.0, 0.0)
        val (gdg, gdGrad, gdY, yDy, yDgrad, _) = withQa.treeAggregate(zero)(
          seqOp = { case ((m, vg, vy, sYdy, sYdg, _), (_, b, qa, _, _)) =>
            var acc1 = sYdy; var acc2 = sYdg
            var i = 0
            while (i < b.alpha.length) {
              val hi = b.h(i); val ai = b.alpha(i)
              val ci = if (b.y(i) > 0) cPos else cNeg
              val grad = qa(i) - 1.0 + nuLocal * b.y(i) -
                (1.0 / (t * ai)) + (1.0 / (t * (ci - ai)))
              val dInv = 1.0 / (1.0 / (t * ai * ai) + 1.0 / (t * (ci - ai) * (ci - ai)))
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
            (m, vg, vy, acc1, acc2, 0.0)
          },
          combOp = { case ((m1, g1, y1, a1, b1, _), (m2, g2, y2, a2, b2, _)) =>
            (m1 + m2, g1 + g2, y1 + y2, a1 + a2, b1 + b2, 0.0) })

        // p×p SMW core on the driver
        val core = inv(DenseMatrix.eye[Double](p) + gdg)
        // u = (Q+D)⁻¹grad and w = (Q+D)⁻¹y have the SMW corrections:
        val corrU: DenseVector[Double] = core * gdGrad
        val corrW: DenseVector[Double] = core * gdY
        // yᵀu = yᵀD⁻¹grad − (GᵀD⁻¹y)ᵀ·corrU ; yᵀw likewise
        val yTu = yDgrad - (gdY dot corrU)
        val yTw = yDy - (gdY dot corrW)
        // restore feasibility: yᵀΔα = −yᵀα with Δα = −u − Δν·w
        val deltaNu = (yTalpha - yTu) / (if (math.abs(yTw) < 1e-12) 1e-12 else yTw)
        val corrUB = sc.broadcast(corrU.toArray)
        val corrWB = sc.broadcast(corrW.toArray)

        // Δα per row (qa reused — only the two SMW dots are O(p)), max
        // feasible step, then the α update
        val prev = blocks
        val updated = withQa.map { case (ids, b, qa, _, _) =>
          var minStep = 1.0
          val deltas = new Array[Double](b.alpha.length)
          var i = 0
          while (i < b.alpha.length) {
            val hi = b.h(i); val ai = b.alpha(i)
            val ci = if (b.y(i) > 0) cPos else cNeg
            val grad = qa(i) - 1.0 + nuLocal * b.y(i) -
              (1.0 / (t * ai)) + (1.0 / (t * (ci - ai)))
            val dInv = 1.0 / (1.0 / (t * ai * ai) + 1.0 / (t * (ci - ai) * (ci - ai)))
            var smwU = 0.0; var smwW = 0.0; var j2 = 0
            while (j2 < p) { smwU += hi(j2) * corrUB.value(j2); smwW += hi(j2) * corrWB.value(j2); j2 += 1 }
            val u = dInv * (grad - smwU)
            val w = dInv * (b.y(i) - smwW)
            val dAlpha = -u - deltaNu * w
            deltas(i) = dAlpha
            if (dAlpha < 0 && ai + dAlpha < 0) minStep = math.min(minStep, -ai / dAlpha * 0.99)
            if (dAlpha > 0 && ai + dAlpha > ci) minStep = math.min(minStep, (ci - ai) / dAlpha * 0.99)
            i += 1
          }
          (ids, b, deltas, minStep)
        }.persist(StorageLevel.MEMORY_AND_DISK)
        val step = updated.map(_._4).reduce(math.min)
        blocks = updated.map { case (ids, b, deltas, _) =>
          val na = new Array[Double](b.alpha.length)
          var i = 0
          while (i < na.length) {
            val ci = if (b.y(i) > 0) cPos else cNeg
            na(i) = math.min(math.max(b.alpha(i) + step * deltas(i), 1e-12 * ci),
                             ci * (1.0 - 1e-12))
            i += 1
          }
          (ids, Block(b.y, b.h, na))
        }.persist(StorageLevel.MEMORY_AND_DISK)
        // localCheckpoint: truncates both the lineage and the closure
        // chain (which captures this iteration's broadcasts)
        blocks.localCheckpoint()
        blocks.count()
        updated.unpersist(false)
        withQa.unpersist(false)
        prev.unpersist(false)
        nu += step * deltaNu
        iter += 1
        if (checkpointDir.isDefined && iter % checkpointEvery == 0 && iter < maxIter)
          writeCheckpoint()
      }
    }

    val alphas = blocks.flatMap { case (ids, b) => ids.zip(b.alpha) }
    (alphas, iter, gap)
  }
}
