package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MlSpec extends SparkSpec {
  import spark.implicits._

  test("kernel column and local forms agree on known values") {
    val a = Array(1.0, 2.0, 3.0); val b = Array(0.5, -1.0, 2.0)
    assert(Kernel.Linear(a, b) === 4.5)
    assert(math.abs(Kernel.Rbf(0.1)(a, b) - math.exp(-0.1 * (0.25 + 9.0 + 1.0))) < 1e-12)
    assert(math.abs(Kernel.Laplacian(0.1)(a, b) - math.exp(-0.1 * 4.5)) < 1e-12)
    assert(math.abs(Kernel.Polynomial(0.5, 1.0, 2)(a, b) - math.pow(0.5 * 4.5 + 1.0, 2)) < 1e-12)
    val df = Seq((a, b)).toDF("a", "b")
      .select(Kernel.Rbf(0.1)($"a", $"b").as("k"))
    assert(math.abs(df.head.getDouble(0) - Kernel.Rbf(0.1)(a, b)) < 1e-12)
  }

  private def detVecs(n: Int, d: Int): Seq[(Long, Array[Double])] = {
    val rng = new scala.util.Random(7)
    (0 until n).map(i => i.toLong -> Array.fill(d)(rng.nextGaussian()))
  }

  test("nystrom with all points as landmarks reconstructs the kernel") {
    val pts = detVecs(20, 5)
    val df = pts.toDF("id", "vec")
    val kernel = Kernel.Rbf(0.3)
    val map = Nystrom.fit(df, "id", "vec", kernel, numLandmarks = 20)
    val phi = pts.map { case (_, x) => map.features(x) }
    var maxErr = 0.0
    for (i <- pts.indices; j <- pts.indices) {
      val approx = phi(i).zip(phi(j)).map { case (u, v) => u * v }.sum
      maxErr = math.max(maxErr, math.abs(approx - kernel(pts(i)._2, pts(j)._2)))
    }
    assert(maxErr < 1e-6, s"full-rank Nystrom reconstruction err $maxErr")
  }

  test("icf at full rank reconstructs the kernel matrix") {
    val pts = detVecs(15, 4)
    val df = pts.toDF("id", "vec")
    val kernel = Kernel.Rbf(0.3)
    val h = Icf.factorize(df, "id", "vec", kernel, rank = 15, checkpointEvery = 4).rows
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    var maxErr = 0.0
    for (i <- pts.indices; j <- pts.indices) {
      val approx = h(i.toLong).zip(h(j.toLong)).map { case (u, v) => u * v }.sum
      maxErr = math.max(maxErr, math.abs(approx - kernel(pts(i)._2, pts(j)._2)))
    }
    assert(maxErr < 1e-6, s"full-rank ICF reconstruction err $maxErr")
  }

  test("icf partial rank captures most kernel mass on clustered data") {
    // random gaussian points give a near-identity RBF kernel (no spectral
    // decay — low rank CAN'T capture it); clusters give decay, which is
    // exactly the regime where ICF's greedy pivots pay off.
    val rng = new scala.util.Random(7)
    val centers = Seq(Array(3.0, 0.0, 0.0, 0.0), Array(0.0, 3.0, 0.0, 0.0),
                      Array(0.0, 0.0, 3.0, 0.0))
    val pts = (0 until 30).map { i =>
      val c = centers(i % 3)
      i.toLong -> c.map(_ + rng.nextGaussian() * 0.1)
    }
    val df = pts.toDF("id", "vec")
    val kernel = Kernel.Rbf(0.3)
    val h = Icf.factorize(df, "id", "vec", kernel, rank = 10).rows
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // diagonal residual k(x,x) - ||h||^2 must be small and non-negative
    val resid = pts.map { case (id, x) =>
      kernel(x, x) - h(id).map(v => v * v).sum
    }
    assert(resid.forall(_ > -1e-9), "residuals stay non-negative")
    assert(resid.sum / pts.size < 0.05, s"avg residual ${resid.sum / pts.size}")
  }

  test("icf rank_ratio auto-rank + residual early stop") {
    // exact duplicates of 3 distinct points: the RBF kernel has rank 3,
    // so with a residual tolerance the factorization must stop after ~3
    // columns no matter how large ratio*n is.
    val bases = Seq(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 1.0))
    val pts = (0 until 30).map(i => i.toLong -> bases(i % 3).clone())
    val df = pts.toDF("id", "vec")
    val h = Icf.factorizeAuto(df, "id", "vec", Kernel.Rbf(0.5),
        rankRatio = 0.5, residualTol = 1e-10).rows
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val builtRank = h.values.head.length
    assert(builtRank <= 4, s"rank-3 kernel must early-stop, built $builtRank cols")
    // and the truncated factor still reconstructs the kernel
    var maxErr = 0.0
    for (i <- pts.indices; j <- pts.indices) {
      val approx = h(i.toLong).zip(h(j.toLong)).map { case (u, v) => u * v }.sum
      maxErr = math.max(maxErr, math.abs(approx - Kernel.Rbf(0.5)(pts(i)._2, pts(j)._2)))
    }
    assert(maxErr < 1e-6, s"early-stopped ICF reconstruction err $maxErr")
  }

  test("kernel svm separates two gaussian blobs and survives save/load") {
    val rng = new scala.util.Random(11)
    val pos = (0 until 80).map(i => (i.toLong, Array(2.0 + rng.nextGaussian() * 0.3,
      2.0 + rng.nextGaussian() * 0.3), 1.0))
    val neg = (80 until 160).map(i => (i.toLong, Array(-2.0 + rng.nextGaussian() * 0.3,
      -2.0 + rng.nextGaussian() * 0.3), -1.0))
    val df = (pos ++ neg).toDF("id", "vec", "y")
    val model = KernelSvmTrainer.fit(df, "id", "vec", "y",
      KernelSvmParams(Kernel.Rbf(0.5), numLandmarks = 32, maxIter = 30))
    val acc = SvmEvaluator.evaluate(model.predict(df, "vec"), "y")
      .head.getAs[Double]("accuracy")
    assert(acc === 1.0, s"separable blobs must be perfectly classified, got $acc")

    val dir = graft.Scratch.dir("svm-model")
    model.save(spark, dir)
    val loaded = KernelSvmModel.load(spark, dir)
    val accL = SvmEvaluator.evaluate(loaded.predict(df, "vec"), "y")
      .head.getAs[Double]("accuracy")
    assert(accL === 1.0, "loaded model scores identically")
  }

  test("multiclass OVR model save/load roundtrip scores identically; ties pick the first class") {
    // 3 well-separated clusters, one per class
    val rng = new scala.util.Random(11)
    val pts = (0 until 90).map { i =>
      val k = i % 3
      val center = Array(4.0 * k, -4.0 * k, 2.0 * k)
      (i.toLong, k.toDouble, center.map(_ + 0.2 * rng.nextGaussian()))
    }
    val df = pts.toDF("id", "cls", "vec")
    val model = KernelSvmTrainer.fitMulticlassModel(df, "id", "vec", "cls",
      KernelSvmParams(kernel = Kernel.Rbf(0.2), numLandmarks = 30,
        regParam = 1e-3, maxIter = 20, tol = 1e-5), parallelism = 3)
    val dir = graft.Scratch.dir("ovr-model")
    model.save(spark, dir)
    val loaded = MulticlassKernelSvmModel.load(spark, dir)
    assert(loaded.classes.toSeq == Seq(0.0, 1.0, 2.0))
    val scored = loaded.predict(df, "vec")
      .select($"cls", $"prediction_class").collect()
    val acc = scored.count(r => r.getDouble(0) == r.getDouble(1)).toDouble / scored.length
    assert(acc > 0.95, s"separated clusters should classify cleanly, got $acc")
    // original and reloaded models agree row-for-row
    val orig = model.predict(df, "vec").select($"id", $"prediction_class")
    val back = loaded.predict(df, "vec").select($"id", $"prediction_class")
    assert(orig.except(back).count() == 0 && back.except(orig).count() == 0)
  }

  test("libsvm write/read roundtrip preserves labels and features") {
    val df = Seq((1.0, Array(1.5, 0.0, -2.0)), (-1.0, Array(0.0, 3.25, 0.0)))
      .toDF("y", "vec")
    val dir = graft.Scratch.dir("libsvm") + "/data"
    LibSvmIO.write(df, "y", "vec", dir)
    val back = LibSvmIO.read(spark, dir, numFeatures = 3)
      .orderBy(desc("label"))
      .collect().map(r => (r.getDouble(0), r.getSeq[Double](1).toArray))
    assert(back(0)._1 === 1.0 && back(0)._2 === Array(1.5, 0.0, -2.0))
    assert(back(1)._1 === -1.0 && back(1)._2 === Array(0.0, 3.25, 0.0))
  }

  test("Nystrom feature expressions compare by content, kernel and shape, and explain without array hashes") {
    import org.apache.spark.sql.graft.GraftShim
    val pts = detVecs(24, 3)
    val df = pts.map { case (id, x) => (id, x, if (id % 2 == 0) 1.0 else -1.0) }
      .toDF("id", "vec", "y")
    val params = KernelSvmParams(Kernel.Rbf(0.3), numLandmarks = 6, maxIter = 5)
    val dir = graft.Scratch.dir("nystrom_eq")
    try {
      KernelSvmTrainer.fit(df, "id", "vec", "y", params).save(spark, dir)
      val a = KernelSvmModel.load(spark, dir).featureMap
      val b = KernelSvmModel.load(spark, dir).featureMap
      val vec = GraftShim.expression($"vec")
      assert(NystromFeatures(vec, a) == NystromFeatures(vec, b))
      assert(NystromFeatures(vec, a).hashCode == NystromFeatures(vec, b).hashCode)
      assert(NystromFeatures(vec, a) != NystromFeatures(vec, a.copy(kernel = Kernel.Rbf(0.31))))
      // the same doubles split between landmarks and W at another row
      val two = NystromMap(Array(Array(1.0), Array(2.0)), Array(Array(3.0)), Kernel.Linear)
      val one = NystromMap(Array(Array(1.0)), Array(Array(2.0), Array(3.0)), Kernel.Linear)
      assert(NystromFeatures(vec, two) != NystromFeatures(vec, one))
      val plan = Nystrom.transform(df, "vec", a, "phi").queryExecution.toString
      assert(plan.contains("nystrom_features") && !plan.contains("[D@"), plan)
    } finally graft.Scratch.delete(dir)

    val sp = Seq((0L, Seq(0, 3), Seq(1.0, 2.0), 1.0), (1L, Seq(1), Seq(4.0), -1.0),
        (2L, Seq(2, 3), Seq(1.0, 1.0), 1.0), (3L, Seq(0), Seq(3.0), -1.0))
      .toDF("id", "indices", "values", "y")
    val sdir = graft.Scratch.dir("sparse_nystrom_eq")
    try {
      SparseKernelSvmTrainer.fit(sp, "id", "indices", "values", "y",
        params.copy(numLandmarks = 3)).save(spark, sdir)
      val a = SparseKernelSvmModel.load(spark, sdir).featureMap
      val b = SparseKernelSvmModel.load(spark, sdir).featureMap
      val (i, v) = (GraftShim.expression($"indices"), GraftShim.expression($"values"))
      assert(SparseNystromFeatures(i, v, a) == SparseNystromFeatures(i, v, b))
      assert(SparseNystromFeatures(i, v, a).hashCode == SparseNystromFeatures(i, v, b).hashCode)
      assert(SparseNystromFeatures(i, v, a) !=
        SparseNystromFeatures(i, v, a.copy(kernel = Kernel.Laplacian(0.3))))
      val plan = SparseNystrom.transform(sp, "indices", "values", a, "phi").queryExecution.toString
      assert(plan.contains("sparse_nystrom_features") &&
        !plan.contains("[D@") && !plan.contains("[I@"), plan)
    } finally graft.Scratch.delete(sdir)
  }
}
