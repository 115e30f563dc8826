package graft.ml

import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.functions.VectorOps

/** The complete reference pipeline (psvm svm_train.cc): greedy-pivot ICF
  * of the kernel matrix → SMW interior-point dual solve → support-vector
  * model, scored with the ORIGINAL kernel (not a feature-map proxy):
  *     f(x) = Σ_{i∈SV} αᵢ yᵢ k(xᵢ, x) + b.
  *
  * Scale: ICF and IPM are fully distributed (see [[Icf]], [[Ipm]]), and
  * the support-vector set STAYS a DataFrame end-to-end — on
  * non-separable data the SV set is O(n), so above `broadcastThreshold`
  * SVs the driver never collects it. The model scores in two modes,
  * float [[predict]] and exact [[predictQuantized]] (integer picounit
  * sums, replayable by an external engine); both pick their layout by
  * which side fits under `broadcastThreshold` rows:
  *   - SV set under it: the map layout — the SVs are collected once as
  *     primitive arrays and broadcast, and each scored row folds them in
  *     one narrow projection (no join, aggregate or shuffle);
  *   - SV set over it, scored rows under it: psvm's svm_predict layout —
  *     the SVs stay sharded where they are, the scored rows go to every
  *     shard, and the shards' partial decision sums are reduced;
  *   - both over it: a partitioned cross join, one distributed
  *     aggregation keyed on the row id.
  * The first two are mirror images (which side is broadcast, which side
  * streams) and share one per-term fold, [[IcfSvmModel.addTerm]], fed by
  * the [[Kernel]] panel form (one vector against a dim-major table of
  * whichever side is broadcast), and one primitive SV table
  * (`RDD[(Array[Double], Double)]`): the parse
  * [[IcfSvmModel.loadText]] or the fit made, else `svs`' own rows. The
  * modes differ only in the accumulator. The driver holds only scalars
  * (bias, counts), plus at most `broadcastThreshold` rows of whichever
  * side the first two layouts broadcast.
  */
final case class IcfSvmModel(
    kernel: Kernel,
    svs: DataFrame,              // (sv_x: array<double>, sv_coef: double = α·y)
    numSupportVectors: Long,     // counted once at fit time
    bias: Double,
    dim: Int,                    // the SV vectors' length; -1 with no SV, or unknown
    broadcastThreshold: Long = 65536,
    private[ml] val cached: Option[RDD[_]] = None,   // the fit's SV rows
    private[ml] val parsed: Option[IcfSvmModel.SvTable] = None) {

  /** The SVs with a vector and a coefficient as primitive (sv, coef) rows,
    * the one table the map and streamed layouts read: the parse
    * [[IcfSvmModel.loadText]] or the fit made for this `svs`, else (a model
    * built over, or copied onto, another frame) `svs`' own internal rows,
    * null rows dropped and both columns cast to double. */
  private lazy val svTable: RDD[(Array[Double], Double)] =
    parsed.filter(_.of eq svs).fold(IcfSvmModel.tableOf(svs))(_.rows)

  /** Persist in the psvm/libsvm-style TEXT format (reference: psvm
    * model.cc Save): a `header` part with kernel/rho metadata and
    * sharded `sv` parts, one line per support vector —
    * `<coef> 1:<x1> 2:<x2> …` with coef = α·y. The SV side is written
    * straight from the distributed DataFrame (psvm likewise shards its
    * model across machines), the one Spark job; the header goes through
    * the Hadoop `FileSystem` of `path`, replacing `header` as Spark's
    * overwrite would. rho follows the libsvm sign convention
    * f(x) = Σ coefᵢ k(xᵢ,x) − rho, so rho = −bias. `dim` lets sparse
    * loaders size vectors without scanning (psvm headers carry it too). */
  def saveText(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val (kt, g, c0, d) = Kernel.encode(kernel)
    val header = Seq(
      "svm_type c_svc",
      s"kernel_type $kt",
      s"gamma ${g.toString}",
      s"coef0 ${c0.toString}",
      s"degree $d",
      s"total_sv $numSupportVectors",
      s"dim $dim",
      s"rho ${(-bias).toString}",
      "SV")
    val dir = new Path(path, "header")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dir, true)
    val out = fs.create(new Path(dir, "part-00000"))
    try out.write(header.mkString("", "\n", "\n").getBytes(UTF_8)) finally out.close()
    fs.create(new Path(dir, "_SUCCESS")).close()
    svs.select(col("sv_coef"), col("sv_x")).as[(Double, Array[Double])]
      .map { case (coef, x) =>
        val sb = new StringBuilder(coef.toString)
        var i = 0
        while (i < x.length) { sb.append(' ').append(i + 1).append(':').append(x(i)); i += 1 }
        sb.toString
      }
      .write.mode("overwrite").text(s"$path/sv")
  }

  /** Releases the cached support vectors. Call when done scoring: the fit
    * caches its SV rows (typically scored many times), and nothing else
    * knows the model's lifetime — without this, cached SV blocks
    * accumulate across models in a long-lived session. The model remains
    * usable afterwards (the DataFrame recomputes from lineage). */
  def unpersist(): Unit = cached.foreach(_.unpersist(false))

  /** Adds `decision` and `prediction` (±1) columns over `vecCol`, as
    * `withColumn` does (an existing column of that name is replaced in
    * place). `idCol` keys only the cross join of the last layout, where it
    * must be unique; the other two score each row on its own.
    *
    * Cost model: exact kernel-SVM scoring is O(n·nSV) kernel evaluations
    * (psvm pays the same); the layout sets what each one costs. In the
    * first two layouts a pair costs one step of a vectorized loop per
    * shared dimension (the [[Kernel]] panel form: one vector against a
    * dim-major table, every pair's sum in flight at once, not one serial
    * chain), and a model read by [[IcfSvmModel.loadText]] adds one scan
    * of each SV line ([[LibSvmLine]]) per job that reads the SVs.
    * `broadcastThreshold` bounds whichever side is broadcast:
    *   - nSV ≤ threshold: the map layout, psvm's svm_predict loop. The
    *     SV side is collected once (at most threshold rows, the bound a
    *     broadcast join would collect too) and broadcast as panels of 64
    *     SVs; `decision` is one narrow projection over `df` that folds
    *     the SVs per row, each row against one panel at a time — no
    *     cross join, aggregate, exchange or join back. The SV collect
    *     runs when `predict` is called; the scoring stays lazy.
    *   - nSV > threshold, n ≤ threshold: the streamed layout, its mirror
    *     image. `df`'s whole rows are collected once (a probe of at most
    *     threshold + 1 rows: the driver holds at most threshold of them)
    *     and their vectors broadcast as one panel; each SV partition
    *     streams its SVs, each against the whole panel, through the same
    *     per-term fold into one partial-sum vector over those rows, and
    *     the driver adds the partials in partition order into the n
    *     decision sums (the same bits on every run). The result is those
    *     collected rows with their decisions, a local DataFrame: no join
    *     back, and an action on it runs no job. The SVs stay sharded: the
    *     driver never collects them. This layout runs its two jobs (the
    *     probe and the fold) when `predict` is called.
    *   - both over the threshold: a partitioned cross join, correct but
    *     quadratic-ish — for 100 TB corpora score with the Nyström model
    *     (O(n·p) via [[KernelSvmModel.predict]]).
    * All three sum the same terms and differ only in float summation
    * order (last ulps); [[predictQuantized]] removes that difference. A
    * row with a null vector scores `bias`; a vector of another length
    * than the SVs clamps to the shorter one. */
  def predict(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    score(df, idCol, vecCol, exact = false)

  /** [[predict]] with EXACT, replayable accumulation, on the same three
    * layouts: each term coef·k(sv, x) is floor-quantized to an integer
    * count of picounits (1e-12, the q43/p29 discipline) and the per-row
    * reduction is a `Long` sum. Integer addition is associative and
    * commutative exactly, so every layout, partitioning and reduction
    * tree gives the same bits, and an external engine replays the
    * decision with one GROUP BY. A sum that leaves the `Long` range
    * fails rather than wrapping. Decisions differ from [[predict]] by at
    * most (nSV + 1)·1e-12 — quantization noise, not model error. */
  def predictQuantized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    score(df, idCol, vecCol, exact = true)

  /** The layout dispatch [[predict]] documents; `exact` picks the
    * picounit `Long` accumulator of [[predictQuantized]]. */
  private def score(df: DataFrame, idCol: String, vecCol: String,
                    exact: Boolean): DataFrame =
    if (numSupportVectors <= broadcastThreshold) broadcastSvs(df, vecCol, exact)
    else {
      val probe = df.select(col("*"), VectorOps.toDoubleArray(col(vecCol)).as("__px"))
      val batch = probe.limit(math.min(broadcastThreshold, Int.MaxValue - 1L).toInt + 1).collect()
      if (batch.length > broadcastThreshold)
        withDecision(df, idCol, kernelSum(points(df, idCol, vecCol), exact))
      else streamSvShards(df, batch, exact)
    }

  /** The map layout: collect the SV table once as primitive arrays,
    * broadcast it as [[Kernel.Panel]]s of [[IcfSvmModel.SvBlock]] SVs (the
    * broadcast's only copy of the SV values), and add `decision` =
    * Σ coef·k(sv, x) + bias to each row of `df` in one projection, folding
    * the SVs in table order with [[IcfSvmModel.addTerm]] (exact:
    * [[IcfSvmModel.addPicoTerm]]); the kernel values come from the panel
    * form, k(x, svᵢ) = k(svᵢ, x). A null vector folds no term, so it
    * scores `bias`. The UDF closes over the `Broadcast` handle only; the
    * panels ship once per executor. */
  private def broadcastSvs(df: DataFrame, vecCol: String, exact: Boolean): DataFrame = {
    val table = svTable.collect()
    val bc = svs.sparkSession.sparkContext.broadcast((
      table.grouped(IcfSvmModel.SvBlock).map(c => Kernel.Panel(c.map(_._1))).toArray,
      table.map(_._2)))
    val k = kernel
    val b = bias
    val decide =
      if (exact) udf { (x: Array[Double]) =>
        var acc = 0L
        if (x != null) {
          val (panels, coef) = bc.value
          val kv = new Array[Double](IcfSvmModel.SvBlock)
          var i = 0; var c = 0
          while (c < panels.length) {
            val p = panels(c)
            k(x, p, kv)
            var j = 0
            while (j < p.n) { acc = IcfSvmModel.addPicoTerm(acc, coef(i + j), kv(j)); j += 1 }
            i += p.n; c += 1
          }
        }
        acc.toDouble / IcfSvmModel.Picounits + b
      }
      else udf { (x: Array[Double]) =>
        var acc = 0.0
        if (x != null) {
          val (panels, coef) = bc.value
          val kv = new Array[Double](IcfSvmModel.SvBlock)
          var i = 0; var c = 0
          while (c < panels.length) {
            val p = panels(c)
            k(x, p, kv)
            var j = 0
            while (j < p.n) { acc = IcfSvmModel.addTerm(acc, coef(i + j), kv(j)); j += 1 }
            i += p.n; c += 1
          }
        }
        acc + b
      }
    withPrediction(df.withColumn("decision", decide(VectorOps.toDoubleArray(col(vecCol)))))
  }

  /** psvm's svm_predict layout over `batch`, `df`'s collected rows with
    * their converted vector (`__px`) last: broadcast the vectors to every
    * SV partition as one [[Kernel.Panel]], fold each partition's SVs into
    * one vector of partial sums Σ coef·k(sv, xⱼ) with the map layout's
    * per-term fold, collect the partials and add them on the driver in
    * partition order (not in task-completion order, as a `fold` would:
    * the float sums keep their bits from run to run), and return the
    * batch itself with `decision` = sum + bias as a local DataFrame. Each
    * SV is evaluated against the rows with the panel form, and its terms
    * are added to every row's sum in SV order. A row with a null vector
    * gets no sum, so it scores `bias`. The float partials stay a plain
    * `Array[Double]` loop and the exact ones a `Long` one, with nothing
    * boxed per pair. */
  private def streamSvShards(df: DataFrame, batch: Array[Row], exact: Boolean): DataFrame = {
    val px = df.schema.length
    val scored = batch.indices.filter(j => !batch(j).isNullAt(px)).toArray
    val sums =
      if (scored.isEmpty) Array.emptyDoubleArray
      else {
        val xs = svs.sparkSession.sparkContext.broadcast(
          Kernel.Panel(scored.map(j => batch(j).getSeq[Double](px).toArray)))
        val k = kernel
        val n = scored.length
        // each partition folds its SVs one at a time against every row
        try {
          if (exact) svTable.mapPartitions { it =>
              val (x, acc, kv) = (xs.value, new Array[Long](n), new Array[Double](n))
              it.foreach { case (sv, coef) =>
                k(sv, x, kv)
                var j = 0
                while (j < n) { acc(j) = IcfSvmModel.addPicoTerm(acc(j), coef, kv(j)); j += 1 }
              }
              Iterator.single(acc)
            }.collect().foldLeft(new Array[Long](n))(IcfSvmModel.addExactInto)
            .map(_.toDouble / IcfSvmModel.Picounits)
          else svTable.mapPartitions { it =>
              val (x, acc, kv) = (xs.value, new Array[Double](n), new Array[Double](n))
              it.foreach { case (sv, coef) =>
                k(sv, x, kv)
                var j = 0
                while (j < n) { acc(j) = IcfSvmModel.addTerm(acc(j), coef, kv(j)); j += 1 }
              }
              Iterator.single(acc)
            }.collect().foldLeft(new Array[Double](n))(Ipm.addInto)
        } finally xs.destroy()
      }
    val ksum = new Array[Double](batch.length)   // 0.0: no sum
    scored.indices.foreach(i => ksum(scored(i)) = sums(i))
    val rows = batch.indices.map(j => Row.fromSeq(batch(j).toSeq.take(px) :+ (ksum(j) + bias)))
    val local = df.sparkSession.createDataFrame(rows.asJava,
      df.schema.add(StructField("__decision", DoubleType, nullable = false)))
    withPrediction(local.withColumn("decision", col("__decision")).drop("__decision"))
  }

  /** The scored side as (__pid, __px: array<double>). */
  private def points(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("__pid"), VectorOps.toDoubleArray(col(vecCol)).as("__px"))

  /** (__pid, __ksum) through a cross join of the points with the SVs:
    * Σ coef·k(sv, x) as a double sum, or with `exact` as a `Long` sum of
    * floor(coef·k(sv, x)·1e12) scaled back to a double. */
  private def kernelSum(pts: DataFrame, exact: Boolean): DataFrame = {
    val term = col("sv_coef") * kernel(col("sv_x"), col("__px"))
    val ksum =
      if (exact) sum(floor(term * lit(IcfSvmModel.Picounits)).cast("long"))
        .cast("double") / lit(IcfSvmModel.Picounits)
      else sum(term)
    pts.crossJoin(svs.select(col("sv_x"), col("sv_coef")))
      .groupBy(col("__pid")).agg(ksum.as("__ksum"))
  }

  /** The cross join's (__pid, __ksum) joined back onto `df` as `decision`
    * = sum + bias.
    * LEFT join + coalesce: a degenerate model with zero support vectors
    * (e.g. single-class data) must still score every row (bias only),
    * not drop them all through an inner join against an empty side. */
  private def withDecision(df: DataFrame, idCol: String, scores: DataFrame): DataFrame =
    withPrediction(df.join(scores, df(idCol) === scores("__pid"), "left")
      .withColumn("decision", coalesce(col("__ksum"), lit(0.0)) + lit(bias))
      .drop("__pid", "__ksum"))

  private def withPrediction(scored: DataFrame): DataFrame =
    scored.withColumn("prediction", when(col("decision") >= 0, 1.0).otherwise(-1.0))
}

object IcfSvmModel {

  /** Primitive (sv, coef) rows made for the `svs` frame `of` (by the same
    * parse or pass), so scoring need not read them back out of `of`. */
  private[ml] final case class SvTable(of: DataFrame, rows: RDD[(Array[Double], Double)])

  /** The schema of [[loadText]]'s `svs`. */
  private val SvSchema = StructType(Seq(
    StructField("sv_x", ArrayType(DoubleType, containsNull = false)),
    StructField("sv_coef", DoubleType, nullable = false)))

  /** A user `svs` frame's (sv, coef) rows, read from its internal rows:
    * rows with a null vector or coefficient dropped, both cast to double. */
  private def tableOf(svs: DataFrame): RDD[(Array[Double], Double)] =
    svs.filter(col("sv_x").isNotNull && col("sv_coef").isNotNull)
      .select(col("sv_x").cast(ArrayType(DoubleType)), col("sv_coef").cast(DoubleType))
      .queryExecution.toRdd
      .map(r => (r.getArray(0).toDoubleArray(), r.getDouble(1)))

  /** Picounits per unit: [[IcfSvmModel.predictQuantized]]'s terms are
    * integer multiples of 1e-12. */
  private[ml] val Picounits = 1e12

  /** SVs per [[Kernel.Panel]] in the map layout's broadcast. */
  private val SvBlock = 64

  /** The per-term fold of the map and streamed layouts: `acc` plus
    * coef·kv, where kv = k(sv, x) comes from the [[Kernel]] panel form. */
  private[ml] def addTerm(acc: Double, coef: Double, kv: Double): Double = acc + coef * kv

  /** [[addTerm]] in picounits: the term is floor(coef·k(sv, x)·1e12) as a
    * `Long`, computed in the cross join's column-expression order, and a
    * sum that leaves the `Long` range fails rather than wraps. */
  private[ml] def addPicoTerm(acc: Long, coef: Double, kv: Double): Long =
    Math.addExact(acc, Math.floor(coef * kv * Picounits).toLong)

  private def addExactInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    var j = 0; while (j < a.length) { a(j) = Math.addExact(a(j), b(j)); j += 1 }; a
  }

  /** Reload a text model dir written by [[IcfSvmModel.saveText]]. The
    * header is read on the driver through the Hadoop `FileSystem` of
    * `path` (no Spark job); the SV parts are parsed distributedly — the
    * model never touches the driver beyond the few header scalars. Each
    * SV line is scanned once by [[LibSvmLine.sv]], straight from the text
    * source's row bytes into the model's primitive SV table, with the values
    * `String.toDouble` would give; `svs` is a view over the same parse. A
    * malformed line or an index outside [1, dim] fails the job that
    * reads it. */
  def loadText(spark: SparkSession, path: String): IcfSvmModel = {
    val header = readHeader(spark, new Path(path, "header"))
      .filter(_.contains(' '))
      .map { l => val i = l.indexOf(' '); l.substring(0, i) -> l.substring(i + 1) }
      .toMap
    val kernel = Kernel.decode(header("kernel_type"), header("gamma").toDouble,
      header("coef0").toDouble, header("degree").toInt)
    // SV lines are `<coef> idx:val …` with 1-BASED indices and, in real
    // libsvm/psvm files, SPARSE entries (zeros omitted, indices can skip)
    // — so each value is placed at its declared index, never positionally
    // ([[LibSvmLine.sv]]). Vectors are sized by the header `dim` when
    // present (dense saveText output always writes it), else by the
    // line's own max index. `svs` copies each primitive vector straight
    // into an unsafe array, with no boxed per-element conversion.
    val headerDim = header.get("dim").map(_.toInt).getOrElse(-1)
    val table = spark.read.text(s"$path/sv").queryExecution.toRdd
      .map(r => LibSvmLine.sv(r.getUTF8String(0), headerDim))
    val svs = GraftShim.internalCreateDataFrame(spark,
      table.map { case (x, coef) => InternalRow(UnsafeArrayData.fromPrimitiveArray(x), coef) },
      SvSchema)
    IcfSvmModel(kernel, svs, header("total_sv").toLong, -header("rho").toDouble, headerDim,
      parsed = Some(SvTable(svs, table)))
  }

  /** The lines of the text part files in `dir`, skipping the `_`- and
    * `.`-prefixed files (`_SUCCESS`, `.crc`) that Spark's own text
    * reader skips. A few header lines do not pay for a job. */
  private def readHeader(spark: SparkSession, dir: Path): Seq[String] = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).toSeq
      .filter(_.isFile).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .sortBy(_.getName)
      .flatMap { p =>
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList finally in.close()
      }
  }
}

object IcfSvmTrainer {

  /** M6+M7+M8 end-to-end: labels must be ±1 in labelCol;
    * `posWeight`/`negWeight` scale C per class (libsvm `-wi`).
    *
    * psvm's layout: the IPM and SV passes run over the ICF blocks (no
    * re-keying by id, no shuffle); one block (under 50k rows) takes four
    * jobs: the row count, the ICF loop, the IPM loop and the SV pass. */
  def fit(df: DataFrame, idCol: String, vecCol: String, labelCol: String,
          kernel: Kernel, rank: Int, c: Double = 1.0,
          maxIter: Int = 60, tol: Double = 1e-5,
          svEpsilon: Double = 1e-4,
          posWeight: Double = 1.0, negWeight: Double = 1.0): IcfSvmModel = {
    val spark = df.sparkSession
    val icf = Icf.factor(df, idCol, vecCol, kernel, rank, labelCol = Some(labelCol))
    require(icf.nRows > 0, "IcfSvmTrainer.fit needs at least one row")
    val p = icf.rank
    val (cPos, cNeg) = (c * posWeight, c * negWeight)
    def cy(y: Double): Double = if (y > 0) cPos else cNeg
    val ipm = Ipm.newton(spark, icf.blocks.map { b =>
      // G = diag(y)·H, and the start α = C_y/2, strictly inside the box
      val g = Array.tabulate(b.ids.length)(i => b.hRow(i, p).map(v => b.ys(i) * v))
      (b.ids, Ipm.Block(b.ys, g, b.ys.map(cy(_) / 2.0)))
    }, icf.nRows, p, cPos, cNeg, maxIter, tol)

    // support vectors: alpha above svEpsilon·C_y — kept DISTRIBUTED (on
    // non-separable data this set is O(n); psvm's model.cc writes it to
    // sharded files for the same reason). The threshold scales with the
    // PER-CLASS C: a flat eps = svEpsilon*c would silently drop a
    // downweighted class's entire SV set. The bias comes from the free
    // SVs' KKT THROUGH THE ICF FACTOR, as psvm's does: its KKT algebra
    // runs on Q ≈ GGᵀ. (Summing the EXACT kernel over every (free, SV)
    // pair instead took 226.6s of m6's decade row, 102.5k free × 200k SV,
    // for a quantity whose spread under solver slack dwarfs the
    // exact-vs-factored difference.)
    val kkt = primal(icf.blocks.zipPartitions(ipm.blocks)(_.zip(_)), p)(_._2._2,
      free = (a, y) => a > svEpsilon * cy(y) && a < cy(y) * (1 - 1e-3)) { case (ib, (_, b)) =>
        b.alpha.indices.filter(i => b.alpha(i) > svEpsilon * cy(b.y(i)))
          .map(i => (ib.ids(i), ib.xs(i), b.y(i) * b.alpha(i), b.alpha(i), b.y(i))).toArray
      }
    val svs = spark.createDataFrame(kkt.table).toDF("sv_id", "sv_x", "sv_coef", "sv_alpha", "sv_y")
    // the SV rows are cached: drop the loops' caches (svs recompute from
    // lineage once the model is unpersisted)
    icf.release()
    ipm.release()
    IcfSvmModel(kernel, svs, kkt.count, kkt.bias, kkt.first.fold(-1)(_._2.length),
      cached = Some(kkt.cached),
      parsed = Some(IcfSvmModel.SvTable(svs, kkt.table.map(t => (t._2, t._3)))))
  }

  /** w, the bias, and the rows `emit` made (cached), their count and first row. */
  private[ml] final case class Primal[T](w: Array[Double], bias: Double, table: RDD[T],
                                         count: Long, first: Option[T], cached: RDD[_])

  /** psvm's KKT algebra on a dual solution's `block`s, rank `p`: w = Σ αᵢyᵢhᵢ
    * = Gᵀα, and b = the mean of yᵢ − w·hᵢ (hᵢ = yᵢ·gᵢ) over the rows
    * `free(αᵢ, yᵢ)` selects (the caller's free SVs), 0.0 if none; `emit`
    * makes table rows in the same task. One job on one block (its task
    * sums w first); on several, a job summing w in partition order
    * ([[Ipm.aggregateInOrder]]) runs before. */
  private[ml] def primal[R, T: ClassTag](rows: RDD[R], p: Int)(block: R => Ipm.Block,
      free: (Double, Double) => Boolean)(emit: R => Array[T]): Primal[T] = {
    val summed =
      if (rows.getNumPartitions == 1) None
      else Some(rows.sparkContext.broadcast(Ipm.aggregateInOrder(rows)(new Array[Double](p))(
        (acc, r) => Ipm.addGTalpha(acc, block(r)), Ipm.addInto)))
    val out = rows.map { r =>
      val b = block(r)
      val w = summed.fold(Ipm.addGTalpha(new Array[Double](p), b))(_.value)
      var total = 0.0; var n = 0L; var i = 0
      while (i < b.alpha.length) {
        if (free(b.alpha(i), b.y(i))) {
          var s = 0.0; var j = 0; while (j < p) { s += w(j) * (b.y(i) * b.h(i)(j)); j += 1 }
          total += b.y(i) - s; n += 1
        }
        i += 1
      }
      (emit(r), w, total, n)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val parts = out.map(t => (t._2, t._3, t._4, t._1.length, t._1.headOption)).collect()
    val (total, n) = parts.foldLeft((0.0, 0L))((a, t) => (a._1 + t._2, a._2 + t._3))
    Primal(summed.fold(parts.headOption.fold(new Array[Double](p))(_._1))(_.value),
      if (n > 0) total / n else 0.0, out.flatMap(_._1), parts.map(_._4.toLong).sum,
      parts.flatMap(_._5).headOption, out)
  }
}
