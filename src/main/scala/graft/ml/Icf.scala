package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** §2.1 M6 (fidelity path): greedy-pivot Incomplete Cholesky
  * Factorization of the kernel matrix, K ≈ H·Hᵀ with H of rank p
  * (reference: psvm icf.cc — row-distributed parallel ICF).
  *
  * Spark re-expression: rows (id, x, h, diag) live in an RDD; each of the
  * p iterations
  *   1. reduces to find the global pivot (max diagonal residual,
  *      ties by min id — deterministic),
  *   2. broadcasts the pivot row (x, its h prefix, its residual),
  *   3. maps every row to append one H column:
  *        H[i,j] = (k(x_i, x_p) − ⟨h_i, h_p⟩) / √d_p,  d_i −= H[i,j]².
  *
  * That is p passes over the data — the same O(n·p²) work and O(n·p)
  * state as the reference, with the n-dimension fully distributed. The
  * lineage is truncated periodically so the plan doesn't grow with p.
  * The loop does not depend on how a row is stored: [[factorize]] (dense
  * rows) and [[factorizeSparse]] (sparse rows) only build the rows and
  * pick the [[Kernel]] form that scores them.
  * For high-throughput training prefer [[Nystrom]]; ICF earns its cost
  * when the greedy pivots matter (fast-decaying spectra).
  */
object Icf {

  private final case class IcfRow[X](id: Long, x: X, h: Array[Double], diag: Double)

  /** psvm's `rank_ratio` flag: p = ⌈ratio·n⌉ (capped at `maxRank`), with
    * residual-trace early stop — the factorization halts as soon as the
    * largest diagonal residual falls below `residualTol`, so easy (low
    * effective rank) kernels pay only the passes they need. */
  def factorizeAuto(df: DataFrame, idCol: String, vecCol: String,
                    kernel: Kernel, rankRatio: Double,
                    maxRank: Int = 256, residualTol: Double = 1e-8,
                    checkpointEvery: Int = 16): DataFrame = {
    val n = df.count()
    val rank = math.max(1, math.min(maxRank, math.ceil(rankRatio * n).toInt))
    factorize(df, idCol, vecCol, kernel, rank, checkpointEvery, residualTol)
  }

  /** Returns (id, icf_features: array<double>[rank]) with K ≈ H·Hᵀ.
    * `residualTol > 0` enables early stop on the max diagonal residual
    * (the produced factor is truncated to the columns actually built).
    *
    * `checkpointDir`: psvm-style fault tolerance for long factorizations
    * (p passes over the data — hours at 100 TB). Every `checkpointEvery`
    * columns the built H prefix + diagonal residuals land in parquet
    * with a column-count marker; a rerun pointed at the same dir (same
    * data, kernel) resumes from the saved prefix. Resume is BIT-exact:
    * each pass is a per-row map + an order-independent max-reduce, so no
    * float accumulation order changes across the restart. */
  def factorize(df: DataFrame, idCol: String, vecCol: String,
                kernel: Kernel, rank: Int,
                checkpointEvery: Int = 16,
                residualTol: Double = 0.0,
                checkpointDir: Option[String] = None): DataFrame = {
    import graft.functions.VectorOps
    import org.apache.spark.sql.functions.col
    val nRows = df.count()
    val rows = df
      .select(col(idCol).cast("long"), VectorOps.toDoubleArray(col(vecCol)))
      .rdd
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    pivotLoop(df.sparkSession, rows, nRows, (a: Array[Double], b: Array[Double]) => kernel(a, b),
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
                      residualTol: Double = 0.0): DataFrame = {
    import org.apache.spark.sql.functions.col
    val nRows = df.count()
    val rows = df.select(col(idCol).cast("long"), col(idxCol), col(valCol))
      .rdd
      .map(r => (r.getLong(0), (r.getSeq[Int](1).toArray, r.getSeq[Double](2).toArray)))
    pivotLoop(df.sparkSession, rows, nRows,
      (a: (Array[Int], Array[Double]), b: (Array[Int], Array[Double])) =>
        kernel.sparse(a._1, a._2, b._1, b._2),
      rank, checkpointEvery, residualTol, None)
  }

  /** The greedy-pivot loop over (id, x) rows scored by `k`, returning
    * (id, icf_features). */
  private def pivotLoop[X](spark: SparkSession, rows: RDD[(Long, X)], nRows: Long,
                           k: (X, X) => Double, rank: Int, checkpointEvery: Int,
                           residualTol: Double,
                           checkpointDir: Option[String]): DataFrame = {
    val base0 = rows.map { case (id, x) => IcfRow(id, x, new Array[Double](rank), k(x, x)) }
    // each of the p passes is a reduce + a map over these blocks
    val base = base0.coalesce(Ipm.blockCount(nRows, base0.getNumPartitions))

    // resume from the last completed column dump, if any
    val resume: Option[(Int, RDD[(Long, (Array[Double], Double))])] =
      checkpointDir.flatMap { dir =>
        val marker = new java.io.File(s"$dir/state")
        if (!marker.exists()) None
        else {
          val src = scala.io.Source.fromFile(marker)
          val saved = try src.mkString.trim.toInt finally src.close()
          val h = spark.read.parquet(s"$dir/h").rdd
            .map(r => (r.getLong(0), (r.getSeq[Double](1).toArray, r.getDouble(2))))
          Some((math.min(saved, rank), h))
        }
      }

    var rdd = (resume match {
      case None => base
      case Some((jSaved, saved)) =>
        base.map(r => (r.id, r)).join(saved).map { case (_, (r, (hPrefix, diag))) =>
          val h = new Array[Double](rank)
          System.arraycopy(hPrefix, 0, h, 0, math.min(jSaved, hPrefix.length))
          IcfRow(r.id, r.x, h, diag)
        }
    }).persist(StorageLevel.MEMORY_AND_DISK)

    var j = resume.map(_._1).getOrElse(0)
    var stopped = false
    while (j < rank && !stopped) {
      val pivot = rdd.reduce { (a, b) =>
        if (a.diag > b.diag || (a.diag == b.diag && a.id < b.id)) a else b
      }
      if (residualTol > 0.0 && pivot.diag <= residualTol) { stopped = true }
      else {
      val bc = spark.sparkContext.broadcast(pivot)
      val jj = j
      val prev = rdd
      rdd = prev.map { r =>
        val p = bc.value
        val sqrtPd = math.sqrt(math.max(p.diag, 1e-300))
        val hj =
          if (r.id == p.id) sqrtPd
          else {
            var dotHp = 0.0; var t = 0
            while (t < jj) { dotHp += r.h(t) * p.h(t); t += 1 }
            (k(r.x, p.x) - dotHp) / sqrtPd
          }
        val h2 = r.h.clone(); h2(jj) = hj
        IcfRow(r.id, r.x, h2, r.diag - hj * hj)
      }.persist(StorageLevel.MEMORY_AND_DISK)
      if ((j + 1) % checkpointEvery == 0) rdd.localCheckpoint()
      rdd.count()          // materialize before unpersisting the parent
      prev.unpersist(false)
      j += 1
      if (checkpointDir.isDefined && j % checkpointEvery == 0 && j < rank) {
        val dir = checkpointDir.get
        val jj2 = j
        import spark.implicits._
        spark.createDataFrame(
            rdd.map(r => (r.id, r.h.take(jj2).toSeq, r.diag)))
          .toDF("id", "h", "diag")
          .write.mode("overwrite").parquet(s"$dir/h")
        // marker LAST: it only ever points at a fully-written dump
        val w = new java.io.PrintWriter(s"$dir/state")
        try w.print(jj2.toString) finally w.close()
      }
      }
    }

    val built = j
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("icf_features", ArrayType(DoubleType))))
    spark.createDataFrame(
      rdd.map(r => Row(r.id, (if (built < rank) r.h.take(built) else r.h).toSeq)),
      schema)
  }
}
