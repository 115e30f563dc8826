package graft.ml

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.functions.VectorOps

/** The complete reference pipeline (psvm svm_train.cc): greedy-pivot ICF
  * of the kernel matrix → SMW interior-point dual solve → support-vector
  * model, scored with the ORIGINAL kernel (not a feature-map proxy):
  *     f(x) = Σ_{i∈SV} αᵢ yᵢ k(xᵢ, x) + b.
  *
  * Scale: ICF and IPM are fully distributed (see [[Icf]], [[Ipm]]), and
  * the support-vector set STAYS a DataFrame end-to-end — on
  * non-separable data the SV set is O(n), so the driver never collects
  * it. [[predict]] picks its layout by which side fits under
  * `broadcastThreshold` rows:
  *   - SV set under it: the SV side is broadcast into a kernel-sum join,
  *     one distributed aggregation keyed on the row id;
  *   - SV set over it, scored rows under it: psvm's svm_predict layout —
  *     the SVs stay sharded where they are, the scored rows go to every
  *     shard, and the shards' partial decision sums are reduced;
  *   - both over it: a partitioned cross join with the same aggregation.
  * The driver holds only scalars (bias, counts), plus at most
  * `broadcastThreshold` scored rows and their sums in the second layout.
  */
final case class IcfSvmModel(
    kernel: Kernel,
    svs: DataFrame,              // (sv_x: array<double>, sv_coef: double = α·y)
    numSupportVectors: Long,     // counted once at fit time
    bias: Double,
    broadcastThreshold: Long = 65536) {

  /** Persist in the psvm/libsvm-style TEXT format (reference: psvm
    * model.cc Save): a `header` part with kernel/rho metadata and
    * sharded `sv` parts, one line per support vector —
    * `<coef> 1:<x1> 2:<x2> …` with coef = α·y. The SV side is written
    * straight from the distributed DataFrame (psvm likewise shards its
    * model across machines); rho follows the libsvm sign convention
    * f(x) = Σ coefᵢ k(xᵢ,x) − rho, so rho = −bias. */
  def saveText(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val (kt, g, c0, d) = kernel match {
      case Kernel.Linear => ("linear", 0.0, 0.0, 0)
      case Kernel.Polynomial(gm, cc, dg) => ("polynomial", gm, cc, dg)
      case Kernel.Rbf(gm) => ("rbf", gm, 0.0, 0)
      case Kernel.Laplacian(gm) => ("laplacian", gm, 0.0, 0)
    }
    // `dim`: the feature dimension, so sparse loaders can size vectors
    // without scanning (libsvm itself omits it; psvm model headers carry
    // the equivalent). -1 for a degenerate zero-SV model.
    val dim = svs.select(org.apache.spark.sql.functions.size(col("sv_x")))
      .head(1).headOption.map(_.getInt(0)).getOrElse(-1)
    Seq(
      "svm_type c_svc",
      s"kernel_type $kt",
      s"gamma ${g.toString}",
      s"coef0 ${c0.toString}",
      s"degree $d",
      s"total_sv $numSupportVectors",
      s"dim $dim",
      s"rho ${(-bias).toString}",
      "SV"
    ).toDS().coalesce(1).write.mode("overwrite").text(s"$path/header")
    svs.select(col("sv_coef"), col("sv_x")).as[(Double, Array[Double])]
      .map { case (coef, x) =>
        val sb = new StringBuilder(coef.toString)
        var i = 0
        while (i < x.length) { sb.append(' ').append(i + 1).append(':').append(x(i)); i += 1 }
        sb.toString
      }
      .write.mode("overwrite").text(s"$path/sv")
  }

  /** Releases the cached support-vector blocks. Call when done scoring:
    * the fit persists `svs` (it is consumed several times during
    * training and typically many times at prediction), and nothing else
    * knows the model's lifetime — without this, cached SV blocks
    * accumulate across models in a long-lived session. The model remains
    * usable afterwards (the DataFrame recomputes from lineage). */
  def unpersist(): Unit = { svs.unpersist(false); () }

  /** Adds `decision` and `prediction` (±1) columns over `vecCol`,
    * keyed by the (unique) `idCol`.
    *
    * Cost model: exact kernel-SVM scoring is O(n·nSV) kernel evaluations
    * (psvm pays the same); the layout sets what each one costs.
    * `broadcastThreshold` bounds whichever side is broadcast:
    *   - nSV ≤ threshold: the SV side is broadcast into the kernel-sum
    *     join. Lazy, like any DataFrame.
    *   - nSV > threshold, n ≤ threshold: psvm's svm_predict layout. The
    *     scored rows are collected once and broadcast; each SV partition
    *     streams its SVs through the plain-array [[Kernel]] form into one
    *     partial-sum vector over those rows (no joined row, projection or
    *     aggregate update per pair), and the partials tree-reduce to the
    *     n decision sums, which are joined back onto `df`. This layout
    *     runs its jobs when `predict` is called.
    *   - both over the threshold: a partitioned cross join, correct but
    *     quadratic-ish — for 100 TB corpora score with the Nyström model
    *     (O(n·p) via [[KernelSvmModel.predict]]), or use
    *     [[predictChunked]] / [[predictQuantized]].
    * All three sum the same terms and differ only in float summation
    * order (last ulps). A row with a null vector scores `bias`. */
  def predict(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val pts = points(df, idCol, vecCol)
    val svSide = svs.select(col("sv_x"), col("sv_coef"))
    val scores =
      if (numSupportVectors <= broadcastThreshold) kernelSum(pts, broadcast(svSide))
      else {
        val batch = pts.limit(math.min(broadcastThreshold, Int.MaxValue - 1L).toInt + 1).collect()
        if (batch.length > broadcastThreshold) kernelSum(pts, svSide)
        else streamSvShards(pts.schema("__pid"), batch)
      }
    withDecision(df, idCol, scores)
  }

  /** psvm's svm_predict layout over `batch`, the collected (__pid, __px)
    * rows: broadcast them to every SV partition, fold each partition's
    * SVs into one vector of partial sums Σ coef·k(sv, xⱼ), tree-reduce
    * the partials, and return (__pid, __ksum). Rows with a null vector
    * get no sum, so [[withDecision]] scores them `bias`. */
  private def streamSvShards(pid: StructField, batch: Array[Row]): DataFrame = {
    val spark = svs.sparkSession
    import spark.implicits._
    val scored = batch.filter(r => !r.isNullAt(1))
    val sums =
      if (scored.isEmpty) Array.emptyDoubleArray
      else {
        val xs = spark.sparkContext.broadcast(scored.map(_.getSeq[Double](1).toArray))
        val k = kernel
        try svs.filter(col("sv_x").isNotNull && col("sv_coef").isNotNull)
          .select(col("sv_x"), col("sv_coef")).as[(Array[Double], Double)].rdd
          .treeAggregate(new Array[Double](scored.length))(
            seqOp = { case (acc, (sv, coef)) =>
              val x = xs.value
              var j = 0; while (j < x.length) { acc(j) += coef * k(sv, x(j)); j += 1 }
              acc
            },
            combOp = { (a, b) => var j = 0; while (j < a.length) { a(j) += b(j); j += 1 }; a })
        finally xs.destroy()
      }
    val rows = scored.indices.map(j => Row(scored(j).get(0), sums(j)))
    spark.createDataFrame(rows.asJava, StructType(Seq(pid, StructField("__ksum", DoubleType))))
  }

  /** [[predict]] in bounded SV batches — the path for the regime where
    * BOTH the corpus and the SV set are huge (non-separable data makes
    * nSV O(n)). One partitioned kernel-sum join is correct but builds a
    * single O(n·nSV) stage; here the SV side is split into
    * ⌈nSV/chunkSize⌉ hash-assigned chunks, each small enough to
    * BROADCAST, and the per-chunk partial kernel sums add up to the same
    * decision. Same total arithmetic, bounded memory per pass, no shuffle
    * of the corpus at all — n·nSV work as a sequence of map-side joins.
    * (Partial sums re-associate the float fold, so decisions can differ
    * from [[predict]] in the last ulps — use [[predictOrdered]] when
    * bit-stability matters more than throughput.) */
  def predictChunked(df: DataFrame, idCol: String, vecCol: String,
                     chunkSize: Long = 65536): DataFrame = {
    val scores = chunkPartials(df, idCol, vecCol, chunkSize)(sum(_))
      .groupBy(col("__pid")).agg(sum(col("__p")).as("__ksum"))
    withDecision(df, idCol, scores)
  }

  /** [[predict]] with QUANTIZED order-independent accumulation — the
    * scale path for exact-kernel scoring when BOTH the corpus and the
    * SV set are huge AND the result must be bit-stable/replayable:
    * each per-SV contribution is floor-quantized to integer picounits
    * (the q43/p29 discipline) and the per-row reduction is an INTEGER
    * sum — associative and commutative EXACTLY, so map-side partial
    * aggregation, chunking, and any partitioning all produce identical
    * bits, and an external engine replays it with one GROUP BY.
    * Physically the SV side streams in ≤`chunkSize` broadcast chunks
    * (the [[predictChunked]] layout): no shuffle of n·nSV rows ever
    * exists — [[predictOrdered]]'s per-row collect_list of nSV
    * contributions is O(n·nSV) through the shuffle, measured
    * disk-filling at the 100× decade (200k × 200k), while this path's
    * shuffle is n rows of (id, long) per chunk. Decisions differ from
    * the exact-float fold by ≤ nSV·1e-12 — quantization noise, not
    * model error (and the replaying oracle quantizes identically). */
  def predictQuantized(df: DataFrame, idCol: String, vecCol: String,
                       chunkSize: Long = 65536): DataFrame = {
    val scores = chunkPartials(df, idCol, vecCol, chunkSize)(
        t => sum(floor(t * lit(1e12)).cast("long")))
      .groupBy(col("__pid"))
      .agg((sum(col("__p")).cast("double") / lit(1e12)).as("__ksum"))
    withDecision(df, idCol, scores)
  }

  /** [[predict]] with ORDER-DETERMINISTIC accumulation: per-SV
    * contributions are sorted by value before the sequential sum, so the
    * decision is bit-identical across partitionings and replayable by an
    * external engine (equal contributions commute exactly in IEEE
    * arithmetic, so sorting by value fully pins the result). Production
    * scoring should use [[predict]] — the plain partial-aggregated sum —
    * which differs only in float summation order; this path exists for
    * the oracle-checked driver queries and cross-engine validation. */
  def predictOrdered(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{aggregate, collect_list, sort_array}
    val svSide0 = svs.select(col("sv_x"), col("sv_coef"))
    val svSide = if (numSupportVectors <= broadcastThreshold) broadcast(svSide0) else svSide0
    val scores = points(df, idCol, vecCol)
      .crossJoin(svSide)
      .select(col("__pid"), kernelTerm.as("__c"))
      .groupBy(col("__pid"))
      .agg(aggregate(sort_array(collect_list(col("__c"))), lit(0.0),
        (acc, x) => acc + x).as("__ksum"))
    withDecision(df, idCol, scores)
  }

  /** The scored side as (__pid, __px: array<double>). */
  private def points(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("__pid"), VectorOps.toDoubleArray(col(vecCol)).as("__px"))

  /** One SV's term of the decision sum: coef·k(sv, x). */
  private def kernelTerm: Column = col("sv_coef") * kernel(col("sv_x"), col("__px"))

  /** (__pid, __ksum) through a cross join of the points with `svSide`. */
  private def kernelSum(pts: DataFrame, svSide: DataFrame): DataFrame =
    pts.crossJoin(svSide).groupBy(col("__pid")).agg(sum(kernelTerm).as("__ksum"))

  /** Per-chunk partial sums `agg(term)` as (__pid, __p), the SV side
    * split into ⌈nSV/chunkSize⌉ hash-assigned broadcast chunks. */
  private def chunkPartials(df: DataFrame, idCol: String, vecCol: String,
                            chunkSize: Long)(agg: Column => Column): DataFrame = {
    val nChunks = math.max(1L, (numSupportVectors + chunkSize - 1) / chunkSize).toInt
    val withChunk = svs.select(col("sv_x"), col("sv_coef"),
      pmod(xxhash64(col("sv_x")), lit(nChunks)).as("__chunk"))
    val pts = points(df, idCol, vecCol)
    (0 until nChunks).map { k =>
      pts.crossJoin(broadcast(withChunk.filter(col("__chunk") === k)
          .select(col("sv_x"), col("sv_coef"))))
        .groupBy(col("__pid"))
        .agg(agg(kernelTerm).as("__p"))
    }.reduce(_ unionByName _)
  }

  /** Joins (__pid, __ksum) back onto `df` as `decision` = sum + bias.
    * LEFT join + coalesce: a degenerate model with zero support vectors
    * (e.g. single-class data) must still score every row (bias only),
    * not drop them all through an inner join against an empty side. */
  private def withDecision(df: DataFrame, idCol: String, scores: DataFrame): DataFrame =
    df.join(scores, df(idCol) === scores("__pid"), "left")
      .withColumn("decision", coalesce(col("__ksum"), lit(0.0)) + lit(bias))
      .drop("__pid", "__ksum")
      .withColumn("prediction", when(col("decision") >= 0, 1.0).otherwise(-1.0))
}

object IcfSvmModel {

  /** Reload a text model dir written by [[IcfSvmModel.saveText]]. The SV
    * parts are parsed distributedly — the model never touches the driver
    * beyond the few header scalars. */
  def loadText(spark: SparkSession, path: String): IcfSvmModel = {
    import spark.implicits._
    val header = spark.read.textFile(s"$path/header").collect()
      .filter(_.contains(' '))
      .map { l => val i = l.indexOf(' '); l.substring(0, i) -> l.substring(i + 1) }
      .toMap
    val kernel: Kernel = header("kernel_type") match {
      case "linear" => Kernel.Linear
      case "polynomial" => Kernel.Polynomial(header("gamma").toDouble,
        header("coef0").toDouble, header("degree").toInt)
      case "rbf" => Kernel.Rbf(header("gamma").toDouble)
      case "laplacian" => Kernel.Laplacian(header("gamma").toDouble)
    }
    // SV lines are `<coef> idx:val …` with 1-BASED indices and, in real
    // libsvm/psvm files, SPARSE entries (zeros omitted, indices can skip)
    // — so each value is placed at its declared index, never positionally.
    // Vectors are sized by the header `dim` when present (dense saveText
    // output always writes it), else by the line's own max index. The
    // primitive Array[Double] encodes straight to an unsafe array; a Seq
    // would go through a boxed per-element conversion that every kernel
    // evaluation then unboxes.
    val headerDim = header.get("dim").map(_.toInt).getOrElse(-1)
    val svs = spark.read.textFile(s"$path/sv")
      .map { line =>
        val parts = line.split(' ')
        val coef = parts(0).toDouble
        val entries = parts.drop(1).map { t =>
          val c = t.indexOf(':')
          (t.substring(0, c).toInt, t.substring(c + 1).toDouble)
        }
        val dim = if (headerDim > 0) headerDim
                  else entries.foldLeft(0)((m, e) => math.max(m, e._1))
        val x = new Array[Double](dim)
        entries.foreach { case (idx, v) =>
          require(idx >= 1 && idx <= dim,
            s"SV feature index $idx outside [1, $dim] (header dim $headerDim)")
          x(idx - 1) = v
        }
        (x, coef)
      }
      .toDF("sv_x", "sv_coef")
    IcfSvmModel(kernel, svs, header("total_sv").toLong, -header("rho").toDouble)
  }
}

object IcfSvmTrainer {

  /** M6+M7+M8 end-to-end: labels must be ±1 in labelCol;
    * `posWeight`/`negWeight` scale C per class (libsvm `-wi`). */
  def fit(df: DataFrame, idCol: String, vecCol: String, labelCol: String,
          kernel: Kernel, rank: Int, c: Double = 1.0,
          maxIter: Int = 60, tol: Double = 1e-5,
          svEpsilon: Double = 1e-4,
          posWeight: Double = 1.0, negWeight: Double = 1.0): IcfSvmModel = {
    val spark = df.sparkSession

    val h = Icf.factorize(df, idCol, vecCol, kernel, rank)
    // ~50k rows per block for the IPM passes (see KernelSvmTrainer.fitIpm)
    val nRows = df.count()
    val parts = math.max(1, math.min(df.rdd.getNumPartitions, (nRows / 50000L).toInt + 1))
    val joined = df
      .select(col(idCol).cast("long").as("__id"),
              VectorOps.toDoubleArray(col(vecCol)).as("__x"),
              col(labelCol).cast("double").as("__y"))
      .join(h.withColumnRenamed("id", "__id"), Seq("__id"))
      .coalesce(parts)
      .persist()

    val (alphas, _, _) = Ipm.solve(joined, "__id", "__y", "icf_features", c,
      maxIter = maxIter, tol = tol, posWeight = posWeight, negWeight = negWeight)
    val alphaDf = spark.createDataFrame(alphas).toDF("__id", "__alpha")

    // support vectors: alpha above threshold — kept DISTRIBUTED (on
    // non-separable data this set is O(n); psvm's model.cc writes it to
    // sharded files for the same reason). The threshold scales with the
    // PER-CLASS C: with class weights, a downweighted class's alphas are
    // bounded by c*weight, and a flat eps = svEpsilon*c would silently
    // drop that class's entire SV set.
    val epsCol = lit(svEpsilon) *
      when(col("__y") > 0, c * posWeight).otherwise(c * negWeight)
    val svDf = joined.join(alphaDf, Seq("__id"))
      .filter(col("__alpha") > epsCol)
      .select(col("__id").as("sv_id"), col("__x").as("sv_x"),
              (col("__y") * col("__alpha")).as("sv_coef"),
              col("__alpha").as("sv_alpha"), col("__y").as("sv_y"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nSv = svDf.count()

    // bias from free SVs' KKT, THROUGH THE ICF FACTOR — the reference's
    // own math: psvm never materializes exact kernel rows at training
    // (that is the point of ICF); its KKT algebra runs on Q ≈ GGᵀ, so
    // b = mean over free SVs of (y_i − h_i·v) with v = Σ_j α_j y_j h_j
    // (the m5/fitIpm shape, w = v on the factor features). Two O(n·p)
    // passes, averaging over ALL free SVs. The first cut here summed
    // the EXACT kernel over every (free, SV) pair instead — O(nFree·nSV)
    // kernel evals that tools/M6Probe measured at 226.6s of m6's decade
    // row (102.5k free × 200k SV), for a quantity whose per-SV spread
    // under solver slack dwarfs the exact-vs-factored difference.
    val withA = joined.join(alphaDf, Seq("__id"))
    val p = joined.select(org.apache.spark.sql.functions.size(col("icf_features")))
      .head().getInt(0)
    val v = withA.select(col("__alpha"), col("__y"), col("icf_features"))
      .rdd.treeAggregate(new Array[Double](p))(
        seqOp = { (acc, r) =>
          val a = r.getDouble(0) * r.getDouble(1)
          val hi = r.getSeq[Double](2)
          var j = 0; while (j < p) { acc(j) += a * hi(j); j += 1 }
          acc
        },
        combOp = { (x, y) => var j = 0; while (j < p) { x(j) += y(j); j += 1 }; x })
    val epsB = lit(svEpsilon) * when(col("__y") > 0, c * posWeight).otherwise(c * negWeight)
    val cUpper = when(col("__y") > 0, c * posWeight).otherwise(c * negWeight)
    val freeAgg = withA
      .filter(col("__alpha") > epsB && col("__alpha") < cUpper * (1 - 1e-3))
      .select(col("__y"), col("icf_features"))
      .rdd.map { r =>
        val hi = r.getSeq[Double](1)
        var s = 0.0; var j = 0; while (j < p) { s += v(j) * hi(j); j += 1 }
        (r.getDouble(0) - s, 1L)
      }
      .fold((0.0, 0L)) { (a, b) => (a._1 + b._1, a._2 + b._2) }
    val bias = if (freeAgg._2 > 0) freeAgg._1 / freeAgg._2 else 0.0

    joined.unpersist()
    IcfSvmModel(kernel, svDf, nSv, bias)
  }
}
