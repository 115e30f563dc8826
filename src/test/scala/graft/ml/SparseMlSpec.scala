package graft.ml

import graft.SparkSpec
import graft.functions.SparseOps
import org.apache.spark.sql.functions._

class SparseMlSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)

  /** Random sparse vector over `dim` dims with ~`nnz` non-zeros;
    * values are small integers (the fixture regime) unless `frac`. */
  private def randSparse(dim: Int, nnz: Int, frac: Boolean): (Array[Int], Array[Double]) = {
    val idx = rnd.shuffle((0 until dim).toList).take(nnz).sorted.toArray
    val v = idx.map(_ => if (frac) rnd.nextDouble() * 4 - 2
                         else (1 + rnd.nextInt(5)).toDouble)
    (idx, v)
  }

  private def densify(idx: Array[Int], v: Array[Double], dim: Int): Array[Double] = {
    val out = new Array[Double](dim)
    idx.indices.foreach(k => out(idx(k)) = v(k))
    out
  }

  test("sparse merge kernels equal the dense kernels BIT-EXACTLY, column and local forms, fractional values included") {
    val dim = 64
    val pairs = for (_ <- 1 to 40) yield {
      val frac = rnd.nextBoolean()
      (randSparse(dim, 1 + rnd.nextInt(20), frac),
       randSparse(dim, 1 + rnd.nextInt(20), frac))
    }
    val df = pairs.map { case ((ai, av), (bi, bv)) =>
      (ai.toSeq, av.toSeq, bi.toSeq, bv.toSeq,
       densify(ai, av, dim).toSeq, densify(bi, bv, dim).toSeq)
    }.toDF("ai", "av", "bi", "bv", "da", "db")
    val kernels: Seq[Kernel] = Seq(Kernel.Linear, Kernel.Polynomial(0.01, 1.0, 2),
      Kernel.Rbf(0.1), Kernel.Laplacian(0.1))
    for (k <- kernels) {
      val rows = df.select(
        k.sparse($"ai", $"av", $"bi", $"bv").as("s"),
        k($"da", $"db").as("d")).collect()
      rows.foreach { r =>
        // bit-level equality, not epsilon: the merge must reproduce the
        // dense accumulation exactly (same terms, same order)
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
               java.lang.Double.doubleToLongBits(r.getDouble(1)),
          s"${k.name}: sparse ${r.getDouble(0)} != dense ${r.getDouble(1)}")
      }
      // local twins agree with the column forms
      pairs.foreach { case ((ai, av), (bi, bv)) =>
        val loc = k.sparse(ai, av, bi, bv)
        val den = k(densify(ai, av, dim), densify(bi, bv, dim))
        assert(java.lang.Double.doubleToLongBits(loc) ==
               java.lang.Double.doubleToLongBits(den), s"${k.name} local")
      }
    }
  }

  test("sparse kernels handle empty vectors and disjoint supports") {
    val df = Seq(
      (Seq.empty[Int], Seq.empty[Double], Seq(1, 3), Seq(2.0, 4.0)),
      (Seq(0, 2), Seq(1.0, 3.0), Seq(1, 3), Seq(2.0, 4.0))
    ).toDF("ai", "av", "bi", "bv")
    val got = df.select(
      SparseOps.sparse_dot($"ai", $"av", $"bi", $"bv").as("dot"),
      SparseOps.sparse_sq_distance($"ai", $"av", $"bi", $"bv").as("sq"),
      SparseOps.sparse_l1_distance($"ai", $"av", $"bi", $"bv").as("l1"))
      .as[(Double, Double, Double)].collect()
    assert(got(0) == ((0.0, 20.0, 6.0)))   // vs empty: ‖b‖², Σ|b|
    assert(got(1) == ((0.0, 30.0, 10.0)))  // disjoint: dot 0, sums of squares/abs
  }

  test("fromDense/toDense round-trip and libsvm sparse read/write round-trip") {
    val dim = 32
    val vecs = (0 until 20).map { i =>
      val (idx, v) = randSparse(dim, 1 + rnd.nextInt(10), frac = true)
      (i.toLong, densify(idx, v, dim).toSeq)
    }
    val df = vecs.toDF("id", "vec")
    val (idxC, valC) = SparseOps.fromDense($"vec")
    val sp = df.select($"id", idxC.as("indices"), valC.as("values"))
    // toDense(fromDense(v)) == v
    val back = sp.select($"id", SparseOps.toDense($"indices", $"values", dim).as("v2"))
      .join(df, "id")
      .filter($"v2" =!= $"vec")
    assert(back.count() == 0)
    // libsvm text round-trip preserves (indices, values) exactly
    val tmp = graft.Scratch.dir("sparse_libsvm")
    try {
      LibSvmIO.writeSparse(sp.withColumn("label", ($"id" % 2).cast("double")),
        "label", "indices", "values", tmp)
      val rt = LibSvmIO.readSparse(spark, tmp)
      assert(rt.count() == 20)
      val mass = rt.agg(sum(aggregate($"values", lit(0.0), (a, x) => a + x))).head().getDouble(0)
      val want = sp.agg(sum(aggregate($"values", lit(0.0), (a, x) => a + x))).head().getDouble(0)
      assert(math.abs(mass - want) < 1e-9, s"$mass vs $want")
      // indices survive 1-based text encoding as 0-based ascending
      val allAsc = rt.select(
        ($"indices" === array_sort($"indices") &&
         size(array_distinct($"indices")) === size($"indices")).as("asc"))
        .agg(min($"asc")).head().getBoolean(0)
      assert(allAsc)
    } finally graft.Scratch.delete(tmp)
  }

  test("sparse Nystrom + sparse SVM reproduce the dense pipeline bit-for-bit on the same data") {
    val dim = 48
    // planted separable-ish data: class +1 concentrates on low dims
    val rows = (0 until 160).map { i =>
      val y = if (i % 2 == 0) 1.0 else -1.0
      val base = if (y > 0) 0 else dim / 2
      val idx = (0 until 6).map(k => base + ((i * 5 + k * 7) % (dim / 2))).distinct.sorted.toArray
      val v = idx.map(d => (1 + (i + d) % 4).toDouble)
      (i.toLong, y, idx.toSeq, v.toSeq, densify(idx, v, dim).toSeq)
    }
    val df = rows.toDF("id", "y", "indices", "values", "vec")
    val params = KernelSvmParams(kernel = Kernel.Rbf(0.05), numLandmarks = 16,
      regParam = 1e-3, maxIter = 15, tol = 1e-5)
    val sparseM = SparseKernelSvmTrainer.fit(df, "id", "indices", "values", "y", params)
    val denseM = KernelSvmTrainer.fit(df, "id", "vec", "y", params)
    // identical landmarks (same seeded sample), identical projections
    assert(sparseM.featureMap.landIdx.length == denseM.featureMap.landmarks.length)
    sparseM.featureMap.landIdx.indices.foreach { i =>
      val d = densify(sparseM.featureMap.landIdx(i), sparseM.featureMap.landVal(i), dim)
      assert(d.sameElements(denseM.featureMap.landmarks(i)), s"landmark $i")
    }
    sparseM.featureMap.w.indices.foreach { i =>
      assert(sparseM.featureMap.w(i).sameElements(denseM.featureMap.w(i)), s"W row $i")
    }
    // identical per-row features → identical fitted weights + decisions
    assert(sparseM.weights.sameElements(denseM.weights) &&
           sparseM.intercept == denseM.intercept,
      "sparse and dense fits diverged on identical data")
    val sd = sparseM.predict(df, "indices", "values")
      .select($"id", $"decision").as[(Long, Double)].collect().toMap
    val dd = denseM.predict(df, "vec")
      .select($"id", $"decision").as[(Long, Double)].collect().toMap
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(sd(r._1)) ==
             java.lang.Double.doubleToLongBits(dd(r._1)), s"decision for id ${r._1}")
    }
    // and the model actually learned the planted structure
    val acc = SvmEvaluator.evaluate(sparseM.predict(df, "indices", "values"), "y")
      .head().getAs[Double]("accuracy")
    assert(acc >= 0.9, s"planted-structure accuracy $acc")
    // save → load round-trips the sparse landmarks exactly
    val tmp = graft.Scratch.dir("sparse_svm")
    try {
      sparseM.save(spark, tmp)
      val loaded = SparseKernelSvmModel.load(spark, tmp)
      val ld = loaded.predict(df, "indices", "values")
        .select($"id", $"decision").as[(Long, Double)].collect().toMap
      rows.foreach(r => assert(ld(r._1) == sd(r._1), s"reloaded decision ${r._1}"))
    } finally graft.Scratch.delete(tmp)
  }

  test("m14 fixture: counts are integer-valued, indices ascending, high-dim sparse") {
    val v = SparseMlQueries.sparseDocVectors(spark, "/root/testdata/sf0.001")
    val chk = v.select(
      min($"indices" === array_sort($"indices") &&
          size(array_distinct($"indices")) === size($"indices")).as("asc"),
      min(forall($"values", x => x === floor(x) && x >= 1.0)).as("ints"),
      max(element_at($"indices", -1)).as("max_idx"),
      max(size($"indices")).as("max_nnz")).head()
    assert(chk.getBoolean(0), "indices must ascend")
    assert(chk.getBoolean(1), "values must be positive integer counts")
    assert(chk.getInt(2) < SparseMlQueries.Dim)
    assert(chk.getInt(3) < 1000, "fixture should stay sparse")
  }

  test("m16: sparse ICF equals dense ICF bit-for-bit and approximates the kernel") {
    val dim = 48
    val rows = (0 until 120).map { i =>
      val idx = (0 until 5).map(k => (i * 7 + k * 11) % dim).distinct.sorted.toArray
      val v = idx.map(d => (1 + (i + d) % 3).toDouble)
      (i.toLong, idx.toSeq, v.toSeq, densify(idx, v, dim).toSeq)
    }
    val df = rows.toDF("id", "indices", "values", "vec")
    val k = Kernel.Rbf(0.05)
    val hs = Icf.factorizeSparse(df, "id", "indices", "values", k, rank = 12).rows
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val hd = Icf.factorize(df, "id", "vec", k, rank = 12).rows
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(hs.keySet == hd.keySet)
    hs.foreach { case (id, h) =>
      assert(h.indices.forall(j =>
        java.lang.Double.doubleToLongBits(h(j)) ==
        java.lang.Double.doubleToLongBits(hd(id)(j))),
        s"sparse/dense ICF factor diverged at id $id")
    }
    // residual early stop: 3 distinct rows repeated give a rank-3 kernel,
    // so both forms must stop at the same column and stay bit-equal
    val dups = (0 until 30).map { i =>
      val r = rows(i % 3); (i.toLong, r._2, r._3, r._4)
    }.toDF("id", "indices", "values", "vec")
    val es = Icf.factorizeSparse(dups, "id", "indices", "values", k, rank = 8,
        residualTol = 1e-8).rows
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val ed = Icf.factorize(dups, "id", "vec", k, rank = 8, residualTol = 1e-8).rows
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(es.keySet == ed.keySet && es.size == 30)
    assert(es.values.forall(_.length == 3) && ed.values.forall(_.length == 3),
      s"early stop must build 3 columns: sparse ${es.values.map(_.length).toSet}, " +
        s"dense ${ed.values.map(_.length).toSet}")
    es.foreach { case (id, h) =>
      assert(h.map(java.lang.Double.doubleToLongBits).sameElements(
        ed(id).map(java.lang.Double.doubleToLongBits)),
        s"early-stopped sparse/dense ICF factor diverged at id $id")
    }
    // ICF's structural guarantees (120 near-orthogonal rows at rank 12
    // cannot approximate everything — that is the spectrum's fault, not
    // the algorithm's): the 12 PIVOTED rows are captured exactly
    // (diagonal residual ~0), and the factor strictly beats the
    // zero-factor baseline on the pair panel
    val residuals = hs.map { case (_, h) => 1.0 - h.map(x => x * x).sum }
    assert(residuals.count(_ < 1e-9) >= 12, "pivot rows must be exactly factored")
    assert(residuals.forall(_ > -1e-9), "residuals must stay non-negative")
    val (errSum, baseSum) = (for (a <- 0 until 20; b <- a until 20) yield {
      val (ia, va) = (rows(a)._2.toArray, rows(a)._3.toArray)
      val (ib, vb) = (rows(b)._2.toArray, rows(b)._3.toArray)
      val ke = k.sparse(ia, va, ib, vb)
      val ki = hs(a.toLong).zip(hs(b.toLong)).map { case (x, y) => x * y }.sum
      (math.abs(ke - ki), math.abs(ke))
    }).unzip match { case (e, b) => (e.sum, b.sum) }
    assert(errSum < baseSum, s"factor must beat the zero baseline: $errSum vs $baseSum")
  }
}
