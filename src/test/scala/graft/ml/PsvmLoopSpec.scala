package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The ICF pivot loop and the IPM Newton loop run inside the block's
  * task on one block and from the driver on several. These specs pin
  * both to the same bits (a plain-Scala reference ICF, a golden IPM
  * solution), bound the jobs a one-block fit submits, check that a fit
  * shuffles nothing and leaves no cache behind, and pin the KKT pass
  * (w and the bias) to a plain-Scala reference. */
class PsvmLoopSpec extends SparkSpec with JobCounting {
  import spark.implicits._

  private def sc = spark.sparkContext

  private def bits(v: Seq[Double]): Seq[Long] = v.map(java.lang.Double.doubleToRawLongBits)

  /** Greedy-pivot ICF in plain Scala, in [[Icf]]'s formula order: the
    * pivot is the largest residual (ties by the smallest id), then
    * H[i,j] = (k(i, p) − Σ_{t<j} H[i,t]·H[p,t]) / √max(d_p, 1e-300) and
    * d_i −= H[i,j]². Returns id → the columns built. */
  private def referenceIcf(ids: Array[Long], k: (Int, Int) => Double, rank: Int,
                           residualTol: Double): Map[Long, Seq[Double]] = {
    val n = ids.length
    val h = Array.fill(n)(new Array[Double](rank))
    val diag = Array.tabulate(n)(i => k(i, i))
    var j = 0
    var stopped = false
    while (j < rank && !stopped) {
      var p = 0
      for (i <- 1 until n) if (diag(i) > diag(p) || (diag(i) == diag(p) && ids(i) < ids(p))) p = i
      if (residualTol > 0 && diag(p) <= residualTol) stopped = true
      else {
        val s = math.sqrt(math.max(diag(p), 1e-300))
        val hp = h(p).clone()
        for (i <- 0 until n) {
          val hij =
            if (ids(i) == ids(p)) s
            else {
              var dot = 0.0
              for (t <- 0 until j) dot += h(i)(t) * hp(t)
              (k(i, p) - dot) / s
            }
          h(i)(j) = hij
          diag(i) = diag(i) - hij * hij
        }
        j += 1
      }
    }
    ids.indices.map(i => ids(i) -> h(i).take(j).toSeq).toMap
  }

  /** (id, dense vec, sparse indices, sparse values) rows, ~40% zeros. */
  private def points(n: Int, dim: Int, distinct: Int, seed: Int)
      : Seq[(Long, Array[Double], Array[Int], Array[Double])] = {
    val rng = new scala.util.Random(seed)
    val pool = Array.fill(distinct)(
      Array.fill(dim)(if (rng.nextDouble() < 0.4) 0.0 else rng.nextGaussian()))
    (0 until n).map { i =>
      val x = pool(if (distinct == n) i else rng.nextInt(distinct))
      val nz = x.indices.filter(x(_) != 0.0).toArray
      (i.toLong, x, nz, nz.map(x))
    }
  }

  private def assertFactorsMatchReference(n: Int, dim: Int, distinct: Int, parts: Int,
                                          rank: Int, residualTol: Double): Unit = {
    val pts = points(n, dim, distinct, seed = n + distinct)
    val kernel = Kernel.Rbf(0.3)
    val ids = pts.map(_._1).toArray
    val xs = pts.map(_._2).toArray
    val ref = referenceIcf(ids, (a, b) => kernel(xs(a), xs(b)), rank, residualTol)
    // a residual tolerance is there to stop early: make sure it did
    assert((ref.head._2.length < rank) === (residualTol > 0))
    val df = spark.createDataFrame(sc.parallelize(pts, parts)).toDF("id", "vec", "indices", "values")
    def check(h: DataFrame, form: String): Unit = {
      val got = h.as[(Long, Seq[Double])].collect().toMap
      assert(got.keySet === ref.keySet)
      val off = ref.count { case (id, v) => bits(got(id)) != bits(v) }
      assert(off === 0, s"$form factor differs from the reference on $off of $n rows")
    }
    check(Icf.factorize(df, "id", "vec", kernel, rank, residualTol = residualTol), "dense")
    check(Icf.factorizeSparse(df, "id", "indices", "values", kernel, rank,
      residualTol = residualTol), "sparse")
  }

  /** Two Gaussian classes, the mean shifted by ±0.6 on the first dims. */
  private def blobs(n: Int, dim: Int, seed: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      val y = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, Array.tabulate(dim)(d => rng.nextGaussian() + (if (d < 4) 0.6 * y else 0.0)), y)
    }.toDF("id", "vec", "y")
  }

  test("one-block ICF equals a plain-Scala reference bit for bit, dense and sparse, early stop included") {
    assertFactorsMatchReference(n = 300, dim = 5, distinct = 300, parts = 2, rank = 12,
      residualTol = 0.0)
    assertFactorsMatchReference(n = 300, dim = 5, distinct = 5, parts = 2, rank = 12,
      residualTol = 1e-8)
  }

  test("three-block ICF (100k rows, the driver loop) equals the same reference bit for bit") {
    val (_, jobs) = jobsDuring(
      assertFactorsMatchReference(n = 100000, dim = 2, distinct = 100000, parts = 3, rank = 4,
        residualTol = 0.0))
    // two passes per pivot per form: the blocks went through the driver loop
    assert(jobs >= 2 * 2 * 4, s"$jobs jobs")
    assertFactorsMatchReference(n = 100000, dim = 2, distinct = 3, parts = 3, rank = 4,
      residualTol = 1e-8)
  }

  // (id, y, h) rows of a well-posed dual
  private val dualRows = {
    val rng = new scala.util.Random(23)
    (0 until 64).map { i =>
      val y = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, y, Array.fill(6)(rng.nextGaussian() * 0.6 + 0.3 * y))
    }
  }
  private def dualFrame(parts: Int): DataFrame =
    spark.createDataFrame(sc.parallelize(dualRows, parts)).toDF("id", "y", "h")

  private def alphaBits(a: org.apache.spark.rdd.RDD[(Long, Double)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    a.collect().sortBy(_._1).foreach { case (id, v) =>
      md.update(java.nio.ByteBuffer.allocate(16).putLong(id)
        .putLong(java.lang.Double.doubleToRawLongBits(v)).array())
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  test("one-block IPM alphas equal the golden bits, and a 3-block solve to 1e-9") {
    val (a1, it1, gap1) = Ipm.solve(dualFrame(1), "id", "y", "h", 1.0, maxIter = 15, tol = 1e-9)
    val (aConv, itConv, gapConv) = Ipm.solve(dualFrame(1), "id", "y", "h", 1.0,
      maxIter = 40, tol = 1e-3)
    val got = (alphaBits(a1), it1, java.lang.Double.doubleToRawLongBits(gap1),
      alphaBits(aConv), itConv, java.lang.Double.doubleToRawLongBits(gapConv))
    info(s"golden: $got")
    assert(got === GoldenIpm)
    val (a3, it3, _) = Ipm.solve(dualFrame(3), "id", "y", "h", 1.0, maxIter = 15, tol = 1e-9)
    val one = a1.collect().toMap
    val maxDiff = a3.collect().map { case (id, a) => math.abs(a - one(id)) }.max
    info(f"max |alpha_1block - alpha_3blocks| = $maxDiff%.2e")
    assert(it3 === it1 && maxDiff < 1e-9)
  }

  // captured from the per-pass driver loop on one partition, before the
  // in-task loop existed; the tol = 1e-3 solve takes the same 15 steps
  // and stops at its 16th gap check, so both alpha digests are one
  private val GoldenIpm =
    ("5f1f3eb96176930000b19aef7c1264a2755303f7ac53b6eaf48995e777be75d8", 15, 4571809324009425992L,
     "5f1f3eb96176930000b19aef7c1264a2755303f7ac53b6eaf48995e777be75d8", 16, 4556157894485111425L)

  test("checkpointDir as a file: URI: segmented one-block loops keep their bits and resume") {
    val icfDir = "file:" + java.nio.file.Files.createTempDirectory("icf_uri")
    val df = points(60, 4, 60, seed = 31).map(t => (t._1, t._2)).toDF("id", "vec")
    def icf(dir: Option[String]) = Icf.factorize(df.coalesce(1), "id", "vec", Kernel.Rbf(0.3),
      rank = 8, checkpointEvery = 4, checkpointDir = dir).as[(Long, Seq[Double])].collect().toMap
    val plain = icf(None)
    val full = icf(Some(icfDir))
    assert(ResumeMarker.read(spark, icfDir) === Some("4"), "ICF marker written at column 4")
    val resumed = icf(Some(icfDir))
    assert(full.map { case (id, v) => id -> bits(v) } === plain.map { case (id, v) => id -> bits(v) })
    assert(resumed.map { case (id, v) => id -> bits(v) } === plain.map { case (id, v) => id -> bits(v) })

    val ipmDir = "file:" + java.nio.file.Files.createTempDirectory("ipm_uri")
    val (aPlain, itPlain, _) = Ipm.solve(dualFrame(1), "id", "y", "h", 1.0, maxIter = 15, tol = 1e-9)
    val (aSeg, itSeg, _) = Ipm.solve(dualFrame(1), "id", "y", "h", 1.0, maxIter = 15, tol = 1e-9,
      checkpointDir = Some(ipmDir), checkpointEvery = 4)
    assert(alphaBits(aSeg) === alphaBits(aPlain) && itSeg === itPlain)
    assert(ResumeMarker.read(spark, ipmDir).map(_.split(' ').head) === Some("12"))
    val (aRes, itRes, _) = Ipm.solve(dualFrame(1), "id", "y", "h", 1.0, maxIter = 15, tol = 1e-9,
      checkpointDir = Some(ipmDir), checkpointEvery = 4)
    val plain15 = aPlain.collect().toMap
    val maxDiff = aRes.collect().map { case (id, a) => math.abs(a - plain15(id)) }.max
    assert(itRes === 15 && maxDiff < 1e-6, s"resumed solve off by $maxDiff")
  }

  test("job guard: one-block ICF jobs do not grow with the rank; a 2k-row fit takes at most 5 jobs") {
    val df = blobs(500, 6, seed = 3).persist()
    df.count()
    val (_, at4) = jobsDuring(Icf.factorize(df.coalesce(1), "id", "vec", Kernel.Rbf(0.2), rank = 4))
    val (_, at16) = jobsDuring(Icf.factorize(df.coalesce(1), "id", "vec", Kernel.Rbf(0.2), rank = 16))
    df.unpersist()
    assert(at4 === at16, s"rank 4: $at4 jobs, rank 16: $at16 jobs")

    val train = blobs(2000, 16, seed = 5).persist()
    train.count()
    val (model, jobs) = jobsDuring(IcfSvmTrainer.fit(train, "id", "vec", "y",
      Kernel.Rbf(1.0 / 16), rank = 16, maxIter = 8, tol = 1e-3))
    info(s"IcfSvmTrainer.fit: $jobs jobs")
    val (_, saveJobs) = jobsDuring(model.saveText(spark,
      java.nio.file.Files.createTempDirectory("fit_save").toString))
    model.unpersist()
    train.unpersist()
    // the row count, the ICF loop, the IPM loop and the SV pass; the
    // save writes the SV parts only
    assert(jobs <= 5, s"$jobs jobs")
    assert(saveJobs === 1, s"saveText: $saveJobs jobs")
  }

  test("a fit on 1 and on 3 blocks writes no shuffle bytes") {
    def fitBytes(df: DataFrame, rank: Int, maxIter: Int): (Long, Long) = {
      val (model, bytes) = shuffleBytesDuring(IcfSvmTrainer.fit(df, "id", "vec", "y",
        Kernel.Rbf(0.25), rank = rank, maxIter = maxIter, tol = 1e-3))
      model.unpersist()
      (bytes, model.numSupportVectors)
    }
    val (oneBlock, nSv1) = fitBytes(blobs(400, 4, seed = 13).coalesce(2), rank = 8, maxIter = 6)
    // 100k rows are three blocks of the ICF and IPM driver loops
    val tall = spark.createDataFrame(sc.parallelize((0 until 100000).map { i =>
      val y = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, Array(math.sin(i * 0.37) + 0.5 * y, math.cos(i * 0.11)), y)
    }, 3)).toDF("id", "vec", "y")
    assert(Ipm.blockCount(100000L, 3) === 3)
    val (threeBlocks, nSv3) = fitBytes(tall, rank = 4, maxIter = 3)
    info(s"shuffle bytes: 1 block $oneBlock ($nSv1 SVs), 3 blocks $threeBlocks ($nSv3 SVs)")
    assert(nSv1 > 0 && nSv3 > 0)
    assert(oneBlock === 0L && threeBlocks === 0L)
  }

  /** w = Σ αᵢyᵢhᵢ and b = the mean of yᵢ − w·hᵢ over the free rows, in
    * plain Scala over the collected alphas and factor rows. */
  private def referencePrimal(alphas: Map[Long, Double], rows: Seq[(Long, Double, Array[Double])],
                              free: (Double, Double) => Boolean): (Array[Double], Double) = {
    val p = rows.head._3.length
    val w = new Array[Double](p)
    rows.foreach { case (id, y, h) => for (j <- 0 until p) w(j) += alphas(id) * y * h(j) }
    val terms = rows.filter { case (id, y, _) => free(alphas(id), y) }
      .map { case (_, y, h) => y - h.indices.map(j => w(j) * h(j)).sum }
    (w, if (terms.isEmpty) 0.0 else terms.sum / terms.length)
  }

  test("block-side w and bias equal a plain-Scala recomputation on 1 and 3 blocks") {
    val pts = points(240, 3, 240, seed = 17)
    val ys = pts.map(t => t._1 -> (if (t._2(0) + 0.3 * t._2(1) > 0) 1.0 else -1.0)).toMap
    val df = spark.createDataFrame(sc.parallelize(pts.map(t => (t._1, t._2, ys(t._1))), 3))
      .toDF("id", "vec", "y")
    val factor = Icf.factor(df, "id", "vec", Kernel.Rbf(0.4), rank = 10)
    val rows = factor.rows.as[(Long, Seq[Double])].collect()
      .map { case (id, h) => (id, ys(id), h.toArray) }.toSeq
    factor.release()
    val free = (a: Double, y: Double) => a > 1e-4 && a < 1.0 * (1 - 1e-3)
    for (parts <- Seq(1, 3)) {
      val frame = spark.createDataFrame(sc.parallelize(rows, parts)).toDF("id", "y", "h")
      val dual = Ipm.dual(frame, "id", "y", "h", 1.0, maxIter = 12, tol = 1e-9)
      val (kkt, jobsSeen) = jobsDuring(IcfSvmTrainer.primal(dual.blocks, 10)(_._2, free)(
        _ => Array.empty[Unit]))
      val alphas = dual.blocks.flatMap { case (ids, b) => ids.zip(b.alpha) }.collect().toMap
      val (w, b) = referencePrimal(alphas, rows, free)
      kkt.cached.unpersist(false)
      dual.release()
      val nFree = rows.count { case (id, y, _) => free(alphas(id), y) }
      info(f"$parts block(s): $jobsSeen jobs, $nFree free SVs, bias ${kkt.bias}%.6f vs $b%.6f")
      assert(nFree > 0)
      assert(jobsSeen === (if (parts == 1) 1 else 2))
      // relative to the largest |w| component, and to |b|
      val wScale = w.map(math.abs).max
      assert(w.indices.forall(j => math.abs(kkt.w(j) - w(j)) <= 1e-12 * wScale),
        s"w ${kkt.w.toSeq} vs ${w.toSeq}")
      assert(math.abs(kkt.bias - b) <= 1e-12 * math.abs(b), s"bias ${kkt.bias} vs $b")
    }
  }

  test("multi-block Gᵀα and w are the per-partition partials added in partition order, bit for bit") {
    val p = dualRows.head._3.length
    val dual = Ipm.dual(dualFrame(3), "id", "y", "h", 1.0, maxIter = 4, tol = 1e-9)
    // per partition: Σ hᵢ·αᵢ over its rows in order, from 0.0
    val partials = dual.blocks.glom().collect().map { part =>
      val acc = new Array[Double](p)
      for ((_, b) <- part; i <- b.alpha.indices; j <- 0 until p) acc(j) += b.h(i)(j) * b.alpha(i)
      acc
    }
    assert(partials.length === 3)
    def sum(order: Seq[Array[Double]]) =
      order.foldLeft(new Array[Double](p))((t, a) => Array.tabulate(p)(j => t(j) + a(j)))
    val want = bits(sum(partials.toSeq))
    // the order matters on these rows: another order gives other bits
    assert(bits(sum(partials.toSeq.reverse)) !== want)
    assert(bits(Ipm.gTalpha(dual.blocks, p)) === want)
    val free = (a: Double, y: Double) => a > 1e-4 && a < 1.0 * (1 - 1e-3)
    val kkt = IcfSvmTrainer.primal(dual.blocks, p)(_._2, free)(_ => Array.empty[Unit])
    assert(bits(kkt.w) === want)
    kkt.cached.unpersist(false)
    dual.release()
  }

  test("a fit leaves no cached RDD behind once the model is unpersisted, and still predicts") {
    val df = blobs(400, 4, seed = 9)
    val before = sc.getPersistentRDDs.keySet
    val model = IcfSvmTrainer.fit(df, "id", "vec", "y", Kernel.Rbf(0.25), rank = 8, maxIter = 10)
    model.unpersist()
    assert(sc.getPersistentRDDs.keySet === before)
    val scored = model.predict(df, "id", "vec")
    assert(scored.count() === 400L)
    val acc = scored.filter($"prediction" === $"y").count() / 400.0
    assert(acc > 0.8, s"accuracy $acc")
  }
}
