package graft.ml

import scala.reflect.ClassTag
import graft.functions.VectorOps
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** §2.1 M6 (fidelity path): greedy-pivot Incomplete Cholesky
  * Factorization of the kernel matrix, K ≈ H·Hᵀ with H of rank p
  * (reference: psvm icf.cc — row-distributed parallel ICF).
  *
  * Spark re-expression: rows (id, x, h, diag) live in per-partition
  * blocks; each of the p iterations
  *   1. finds the global pivot (max diagonal residual, ties by min id —
  *      a total order, so deterministic),
  *   2. hands every block the pivot row (x, its h prefix, its residual),
  *   3. appends one H column to every row:
  *        H[i,j] = (k(x_i, x_p) − ⟨h_i, h_p⟩) / √d_p,  d_i −= H[i,j]².
  *
  * The pivot step is written once ([[pivots]]) against the block
  * collective ([[Blocks]]). Cost per block count (~50k rows per block):
  *   - one block (the m = 1 case of the paper's cost model, where the
  *     all-reduce is the identity): the whole pivot loop runs inside the
  *     block's one task, on its own copy of the block — one Spark job,
  *     after one that counts the rows;
  *   - several blocks: each pivot is one job, the all-reduce that also
  *     materializes the previous pivot's column map, plus one job that
  *     materializes the last column; the lineage is truncated every
  *     `checkpointEvery` pivots.
  * Both forms give the same factor bit for bit. That is the same O(n·p²)
  * work and O(n·p) state as the reference, with the n-dimension
  * distributed.
  * The loop does not depend on how a row is stored: [[factorize]] (dense
  * rows) and [[factorizeSparse]] (sparse rows) only build the rows and
  * pick the [[Kernel]] form that scores them. A block keeps each row's
  * point and label by its H row, for [[IcfSvmTrainer]]'s later passes.
  * For high-throughput training prefer [[Nystrom]]; ICF earns its cost
  * when the greedy pivots matter (fast-decaying spectra).
  */
object Icf {

  /** A factor: `rank` H columns built over `nRows` input rows, `rows`
    * its (id, icf_features) view over the loop's blocks, cached by the
    * loop that built them; `release` drops that cache (the rows then
    * recompute from lineage), unless the lineage runs through a local
    * checkpoint (several blocks, `checkpointEvery` columns or more). */
  final class Factor[X] private[ml] (spark: SparkSession, private[ml] val blocks: RDD[IcfBlock[X]],
                                     val rank: Int, val nRows: Long, cached: Option[RDD[_]]) {
    lazy val rows: DataFrame = spark.createDataFrame(blocks.flatMap {
      val built = rank // a local, so the closure captures neither the factor nor its session
      b => b.ids.indices.iterator.map(i => Row(b.ids(i), b.hRow(i, built).toSeq))
    }, new StructType().add("id", LongType).add("icf_features", ArrayType(DoubleType)))
    def release(): Unit = cached.foreach(_.unpersist(false))
  }

  /** One partition's rows, column-compressed: ids, points, labels (0.0
    * if none), the H rows (length rank) and the diagonal residuals. */
  private[ml] final case class IcfBlock[X](ids: Array[Long], xs: Array[X], ys: Array[Double],
                                           h: Array[Array[Double]], diag: Array[Double]) {
    /** A copy whose H rows and residuals [[addColumn]] may update. */
    def copyForUpdate: IcfBlock[X] = IcfBlock(ids, xs, ys, h.map(_.clone), diag.clone)

    def hRow(i: Int, cols: Int): Array[Double] = if (cols < h(i).length) h(i).take(cols) else h(i)
  }

  /** A pivot row: id, point, H row (only its prefix before the column
    * being built is read) and residual. */
  private final case class Pivot[X](id: Long, x: X, h: Array[Double], diag: Double)

  /** The pivot order: larger residual first, ties by smaller id. */
  private def precedes(diagA: Double, idA: Long, diagB: Double, idB: Long): Boolean =
    diagA > diagB || (diagA == diagB && idA < idB)

  /** Of `a` and `b`, the pivot the [[precedes]] order puts first. */
  private def better[X](a: Option[Pivot[X]], b: Option[Pivot[X]]): Option[Pivot[X]] =
    (a ++ b).reduceOption((p, q) => if (precedes(p.diag, p.id, q.diag, q.id)) p else q)

  /** The block's pivot: [[precedes]] folded left over its rows. */
  private def blockPivot[X](b: IcfBlock[X]): Pivot[X] = {
    var best = 0; var i = 1
    while (i < b.ids.length) {
      if (!precedes(b.diag(best), b.ids(best), b.diag(i), b.ids(i))) best = i
      i += 1
    }
    Pivot(b.ids(best), b.xs(best), b.h(best), b.diag(best))
  }

  /** Appends column `j` to every row of `b`, in place. Only column j is
    * written and only the pivot's prefix t < j is read, so `p` may be a
    * row of `b` itself. */
  private def addColumn[X](b: IcfBlock[X], p: Pivot[X], j: Int, k: (X, X) => Double): Unit = {
    val sqrtPd = math.sqrt(math.max(p.diag, 1e-300))
    var i = 0
    while (i < b.ids.length) {
      val hi = b.h(i)
      val hj =
        if (b.ids(i) == p.id) sqrtPd
        else {
          var dotHp = 0.0; var t = 0
          while (t < j) { dotHp += hi(t) * p.h(t); t += 1 }
          (k(b.xs(i), p.x) - dotHp) / sqrtPd
        }
      hi(j) = hj
      b.diag(i) = b.diag(i) - hj * hj
      i += 1
    }
  }

  /** The pivot step from column `from` until `until` or the early stop,
    * written once; returns the blocks, the columns built and whether the
    * early stop (the largest residual at or below `residualTol`) fired. */
  private def pivots[X](blocks0: Blocks[IcfBlock[X]], from: Int, until: Int,
                        k: (X, X) => Double, residualTol: Double,
                        checkpointEvery: Int): (Blocks[IcfBlock[X]], (Int, Boolean)) = {
    var blocks = blocks0
    var j = from
    var stopped = false
    while (j < until && !stopped) {
      blocks.allReduce(Option.empty[Pivot[X]])((acc, b) => better(acc, Some(blockPivot(b))), better) match {
        case Some(p) if !(residualTol > 0.0 && p.diag <= residualTol) =>
          val col = j
          blocks = blocks.update(_.copyForUpdate, cut = (col + 1) % checkpointEvery == 0)(
            addColumn(_, p, col, k))
          j += 1
        case _ => stopped = true
      }
    }
    (blocks, (j, stopped))
  }

  /** psvm's `rank_ratio` flag: p = ⌈ratio·n⌉ (capped at `maxRank`), with
    * residual-trace early stop — the factorization halts as soon as the
    * largest diagonal residual falls below `residualTol`, so easy (low
    * effective rank) kernels pay only the passes they need. */
  def factorizeAuto(df: DataFrame, idCol: String, vecCol: String,
                    kernel: Kernel, rankRatio: Double,
                    maxRank: Int = 256, residualTol: Double = 1e-8,
                    checkpointEvery: Int = 16): Factor[Array[Double]] =
    dense(df, idCol, vecCol, None, kernel,
      n => math.max(1, math.min(maxRank, math.ceil(rankRatio * n).toInt)),
      checkpointEvery, residualTol, None)

  /** The factor with K ≈ H·Hᵀ, H of rank `rank`: its `rows` are (id,
    * icf_features: array<double>[rank]). `residualTol > 0` enables early
    * stop on the max diagonal residual (the factor is truncated to the
    * columns actually built). The factor is computed (a row count, then
    * one job on a one-block input) and cached before this returns;
    * `release` drops the cache. `labelCol` puts the rows' labels in the
    * blocks, for [[IcfSvmTrainer]]'s later passes.
    *
    * `checkpointDir`: psvm-style fault tolerance for long factorizations
    * (p passes over the data — hours at 100 TB). Every `checkpointEvery`
    * columns the built H prefix + diagonal residuals land in parquet
    * with a column-count marker ([[ResumeMarker]]); a rerun pointed at
    * the same dir (same data, kernel) resumes from the saved prefix. On
    * a one-block input the in-task loop then runs in segments of
    * `checkpointEvery` pivots, one job each. Resume is BIT-exact: each
    * pass is a per-row update + an order-independent argmax, so no float
    * accumulation order changes across the restart. */
  def factorize(df: DataFrame, idCol: String, vecCol: String,
                kernel: Kernel, rank: Int,
                checkpointEvery: Int = 16,
                residualTol: Double = 0.0,
                checkpointDir: Option[String] = None,
                labelCol: Option[String] = None): Factor[Array[Double]] =
    dense(df, idCol, vecCol, labelCol, kernel, _ => rank, checkpointEvery, residualTol,
      checkpointDir)

  private def dense(df: DataFrame, idCol: String, vecCol: String, labelCol: Option[String],
                    kernel: Kernel, rank: Long => Int, checkpointEvery: Int,
                    residualTol: Double, checkpointDir: Option[String]): Factor[Array[Double]] = {
    val rows = df
      .select(col(idCol).cast("long"), VectorOps.toDoubleArray(col(vecCol)),
              labelCol.fold(lit(0.0))(col(_).cast("double")))
      .rdd
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    pivotLoop(df.sparkSession, rows, (a: Array[Double], b: Array[Double]) => kernel(a, b),
      rank, checkpointEvery, residualTol, checkpointDir)
  }

  /** [[factorize]] over SPARSE rows ((indices, values) pairs — the M16
    * representation): the same greedy-pivot loop scoring rows with
    * [[Kernel.sparse]]. The merge-join sparse kernels are bit-identical
    * to the dense ones on the same data (SparseMlSpec), so this produces
    * the EXACT factor the dense path would — without ever materializing
    * dim-length vectors. At the rcv1-class regime that is the difference
    * between broadcasting a ~1 KB pivot row per pass and a ~370 KB one,
    * and between O(nnz) and O(dim) per kernel term. (No `checkpointDir`
    * parameter here — the sparse path's passes are cheap enough that
    * exposing the psvm-style resume isn't worth its surface; the loop
    * supports it, so add the parameter when a real corpus needs it.) */
  def factorizeSparse(df: DataFrame, idCol: String, idxCol: String,
                      valCol: String, kernel: Kernel, rank: Int,
                      checkpointEvery: Int = 16,
                      residualTol: Double = 0.0): Factor[(Array[Int], Array[Double])] = {
    val rows = df.select(col(idCol).cast("long"), col(idxCol), col(valCol))
      .rdd
      .map(r => (r.getLong(0), (r.getSeq[Int](1).toArray, r.getSeq[Double](2).toArray), 0.0))
    pivotLoop(df.sparkSession, rows,
      (a: (Array[Int], Array[Double]), b: (Array[Int], Array[Double])) =>
        kernel.sparse(a._1, a._2, b._1, b._2),
      _ => rank, checkpointEvery, residualTol, None)
  }

  /** The greedy-pivot loop over (id, x, label) rows scored by `k`, rank
    * `rankOf(row count)`, in the form [[Blocks.Dist.run]] picks. */
  private def pivotLoop[X: ClassTag](spark: SparkSession, rows: RDD[(Long, X, Double)],
                                     k: (X, X) => Double, rankOf: Long => Int,
                                     checkpointEvery: Int, residualTol: Double,
                                     checkpointDir: Option[String]): Factor[X] = {
    val nRows = rows.count()
    val rank = rankOf(nRows)
    // resume from the last completed column dump, if any
    val resume: Option[(Int, RDD[(Long, (Array[Double], Double))])] =
      checkpointDir.flatMap { dir =>
        ResumeMarker.read(spark, dir).map { saved =>
          val h = spark.read.parquet(s"$dir/h").rdd
            .map(r => (r.getLong(0), (r.getSeq[Double](1).toArray, r.getDouble(2))))
          (math.min(saved.toInt, rank), h)
        }
      }
    val start: RDD[(Long, X, Double, Array[Double], Double)] = resume match {
      case None => rows.map { case (id, x, y) => (id, x, y, new Array[Double](rank), k(x, x)) }
      case Some((jSaved, saved)) =>
        rows.map(t => (t._1, (t._2, t._3))).join(saved).map { case (id, ((x, y), (hPrefix, diag))) =>
          val h = new Array[Double](rank)
          System.arraycopy(hPrefix, 0, h, 0, math.min(jSaved, hPrefix.length))
          (id, x, y, h, diag)
        }
    }
    val nBlocks = Ipm.blockCount(nRows, start.getNumPartitions)
    val built: RDD[IcfBlock[X]] = start.coalesce(nBlocks).mapPartitions { it =>
      val buf = it.toArray
      if (buf.isEmpty) Iterator.empty
      else Iterator.single(
        IcfBlock(buf.map(_._1), buf.map(_._2), buf.map(_._3), buf.map(_._4), buf.map(_._5)))
    }
    if (nRows == 0) return new Factor(spark, built, 0, 0L, None)

    var blocks = Blocks(built)
    var j = resume.map(_._1).getOrElse(0)
    var stopped = false
    // one segment, or one per `checkpointEvery` columns when each ends in a dump
    while (j < rank && !stopped) {
      val from = j
      val until =
        if (checkpointDir.isEmpty) rank
        else math.min(rank, (from / checkpointEvery + 1) * checkpointEvery)
      val (next, (cols, halted)) = blocks.run(pivots(_, from, until, k, residualTol, checkpointEvery))
      blocks = next; j = cols; stopped = halted
      checkpointDir.foreach { dir =>
        if (!stopped && j < rank) {
          val prefix = j
          ResumeMarker.commit(spark, dir, prefix.toString) {
            spark.createDataFrame(blocks.rdd.flatMap { b =>
                Iterator.tabulate(b.ids.length)(i => (b.ids(i), b.h(i).take(prefix).toSeq, b.diag(i)))
              })
              .toDF("id", "h", "diag")
              .write.mode("overwrite").parquet(s"$dir/h")
          }
        }
      }
    }
    new Factor(spark, blocks.rdd, j, nRows, blocks.cache)
  }
}
