package graft.ml

import graft.SparkSpec

class IcfSvmSpec extends SparkSpec with JobCounting {
  import spark.implicits._

  test("full psvm pipeline (ICF -> IPM -> SV model) separates blobs") {
    val rng = new scala.util.Random(23)
    val pts = (0 until 80).map { i =>
      val pos = i % 2 == 0
      val cx = if (pos) 2.0 else -2.0
      (i.toLong,
       Array(cx + rng.nextGaussian() * 0.4, -cx + rng.nextGaussian() * 0.4),
       if (pos) 1.0 else -1.0)
    }
    val df = pts.toDF("id", "vec", "y")
    val model = IcfSvmTrainer.fit(df, "id", "vec", "y",
      Kernel.Rbf(0.5), rank = 20, c = 1.0, maxIter = 60)
    info(s"support vectors: ${model.numSupportVectors} of ${pts.size}")
    assert(model.numSupportVectors > 0 && model.numSupportVectors <= pts.size)

    val scored = model.predict(df, "id", "vec")
    val acc = SvmEvaluator.evaluate(scored, "y").head.getAs[Double]("accuracy")
    assert(acc === 1.0, s"separable data must classify perfectly, got $acc")
  }

  test("psvm-style text model roundtrips exactly") {
    val rng = new scala.util.Random(41)
    val pts = (0 until 60).map { i =>
      val pos = i % 2 == 0
      val cx = if (pos) 1.5 else -1.5
      (i.toLong,
       Array(cx + rng.nextGaussian() * 0.5, -cx + rng.nextGaussian() * 0.5),
       if (pos) 1.0 else -1.0)
    }
    val df = pts.toDF("id", "vec", "y")
    val model = IcfSvmTrainer.fit(df, "id", "vec", "y",
      Kernel.Rbf(0.5), rank = 16, c = 1.0, maxIter = 40)
    val dir = graft.Scratch.dir("icfsvm_text")
    model.saveText(spark, dir)
    val loaded = IcfSvmModel.loadText(spark, dir)
    assert(loaded.numSupportVectors === model.numSupportVectors)
    assert(loaded.bias === model.bias, "rho/bias roundtrips via Double.toString")
    assert(loaded.kernel === model.kernel)
    val orig = model.predict(df, "id", "vec")
      .select("id", "decision").as[(Long, Double)].collect().toMap
    val back = loaded.predict(df, "id", "vec")
      .select("id", "decision").as[(Long, Double)].collect().toMap
    pts.foreach { case (id, _, _) =>
      assert(math.abs(orig(id) - back(id)) < 1e-12,
        s"decision for $id drifted: ${orig(id)} vs ${back(id)}")
    }
  }

  // one fit shared by the predict and predictQuantized layout specs
  private lazy val regimeFit = {
    val rng = new scala.util.Random(31)
    val pts = (0 until 70).map { i =>
      val pos = i % 2 == 0
      val cx = if (pos) 1.5 else -1.5
      (i.toLong,
       Array(cx + rng.nextGaussian() * 0.6, -cx + rng.nextGaussian() * 0.6),
       if (pos) 1.0 else -1.0)
    }
    val df = pts.toDF("id", "vec", "y")
    val model = IcfSvmTrainer.fit(df, "id", "vec", "y",
      Kernel.Rbf(0.5), rank = 16, c = 5.0, maxIter = 40)
    // plain-Scala Σ coefᵢ·exp(−0.5‖svᵢ − x‖²) + bias over the collected SVs
    val svRows = model.svs.select("sv_x", "sv_coef").as[(Seq[Double], Double)].collect()
    def plain(x: Seq[Double]): Double = svRows.map { case (sv, c) =>
      c * math.exp(-0.5 * sv.zip(x).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sum + model.bias
    (pts, df, model, plain _)
  }

  private def decisions(scored: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    scored.select($"id", $"decision").as[(Long, Double)].collect().toMap

  private def crossJoins(scored: org.apache.spark.sql.DataFrame): Boolean = {
    val plan = scored.queryExecution.executedPlan.toString
    plan.contains("NestedLoopJoin") || plan.contains("CartesianProduct")
  }

  /** The map layout's plan: one projection over the scored rows, with no
    * cross join, aggregate or exchange. */
  private def narrow(scored: org.apache.spark.sql.DataFrame): Boolean = {
    val plan = scored.queryExecution.executedPlan.toString
    !crossJoins(scored) && !plan.contains("HashAggregate") && !plan.contains("Exchange")
  }

  test("predict: all three layouts agree with the broadcast path and a plain-Scala kernel sum") {
    val (pts, df, model, plain) = regimeFit
    val nSv = model.numSupportVectors
    assert(nSv >= 4 && nSv < pts.size, s"fixture needs a few SVs, got $nSv")
    val few = df.filter($"id" < nSv - 1)            // nSv - 1 rows
    val broadcastAll = model.predict(df, "id", "vec")
    // SVs under the threshold (or at it): the map layout over broadcast SVs
    val under = model.copy(broadcastThreshold = nSv)
    // SVs over it, few scored rows: psvm's layout, no cross join at all
    val streamed = model.copy(broadcastThreshold = nSv - 1).predict(few, "id", "vec")
    // both sides over it: the partitioned cross join
    val both = model.copy(broadcastThreshold = 2).predict(df, "id", "vec")
    assert(narrow(broadcastAll), s"the map layout must be one projection:\n" +
      broadcastAll.queryExecution.executedPlan)
    assert(narrow(under.predict(df, "id", "vec")))
    assert(crossJoins(both))
    assert(!crossJoins(streamed), "the streamed layout must not plan a cross join")

    val ref = decisions(broadcastAll)
    val byLayout = Seq("under" -> decisions(under.predict(df, "id", "vec")),
      "streamed" -> decisions(streamed), "both" -> decisions(both))
    assert(byLayout(1)._2.keySet === (0L until nSv - 1).toSet)
    val vecs = pts.map { case (id, x, _) => id -> x.toSeq }.toMap
    for ((name, got) <- byLayout; (id, d) <- got) {
      assert(math.abs(d - ref(id)) < 1e-9, s"$name id $id: $d vs broadcast ${ref(id)}")
      assert(math.abs(d - plain(vecs(id))) < 1e-9, s"$name id $id: $d vs plain ${plain(vecs(id))}")
    }
    assert(streamed.columns.toSeq === df.columns.toSeq ++ Seq("decision", "prediction"))
  }

  test("predict streamed layout: a null vector scores bias, an empty frame scores nothing") {
    val (_, _, model, plain) = regimeFit
    val streamed = model.copy(broadcastThreshold = model.numSupportVectors - 1)
    val withNull = Seq((1000L, Option.empty[Array[Double]]), (1001L, Some(Array(1.5, -1.5))))
      .toDF("id", "vec")
    // a vector of the wrong length clamps to the shorter one, as the
    // kernel expressions of the cross join do
    val offDim = Seq((1L, Array(1.5, -1.5, 9.0)), (2L, Array(1.5))).toDF("id", "vec")
    val crossDec = decisions(model.copy(broadcastThreshold = 1).predict(offDim, "id", "vec"))
    for ((name, m) <- Seq("map" -> model, "streamed" -> streamed)) {
      val got = decisions(m.predict(withNull, "id", "vec"))
      assert(got.keySet === Set(1000L, 1001L), name)
      assert(bits(got)(1000L) === java.lang.Double.doubleToRawLongBits(model.bias),
        s"$name: a null vector must score bias")
      assert(math.abs(got(1001L) - plain(Seq(1.5, -1.5))) < 1e-9, name)

      val offDec = decisions(m.predict(offDim, "id", "vec"))
      assert(offDec.keySet === crossDec.keySet, name)
      offDec.foreach { case (id, d) =>
        assert(math.abs(d - crossDec(id)) < 1e-9, s"$name id $id: $d vs cross join ${crossDec(id)}")
      }

      val empty = m.predict(withNull.filter($"id" < 0), "id", "vec")
      assert(empty.columns.contains("decision") && empty.columns.contains("prediction"), name)
      assert(empty.count() === 0L, name)
    }
  }

  test("predict streamed layout: the collected rows come back scored, in order, with no join") {
    val (_, _, model, plain) = regimeFit
    val streamed = model.copy(broadcastThreshold = model.numSupportVectors - 1)
    val (a, b) = (Array(1.5, -1.5), Array(-0.5, 2.0))
    // duplicate ids, a null vector, and an existing `decision` column
    val in = Seq((7L, 0.25, Option(a), "p"), (7L, 0.5, Option(b), "q"),
                 (8L, 0.75, Option.empty[Array[Double]], "r"), (3L, 1.0, Option(a), "s"))
      .toDF("id", "decision", "vec", "tag")
    for (exact <- Seq(false, true)) {
      def scored(m: IcfSvmModel) =
        if (exact) m.predictQuantized(in, "id", "vec") else m.predict(in, "id", "vec")
      val got = scored(streamed)
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
      assert(got.columns.toSeq === Seq("id", "decision", "vec", "tag", "prediction"),
        "decision is replaced in place, prediction appended")
      // the map layout scores each row of `in` in place: the same rows,
      // order and (one SV partition) bits
      val rows = got.collect()
      val mapped = scored(model).collect()
      assert(rows.map(r => (r.getLong(0), r.getString(3))).toSeq ===
        mapped.map(r => (r.getLong(0), r.getString(3))).toSeq)
      assert(rows.map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toSeq ===
        mapped.map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toSeq, s"exact $exact")
      assert(rows.map(_.getDouble(4)).toSeq === mapped.map(_.getDouble(4)).toSeq)
      assert(rows(2).getDouble(1) === model.bias, "a null vector scores bias")
      for (j <- Seq(0, 1, 3)) {
        val x = rows(j).getSeq[Double](2)
        assert(math.abs(rows(j).getDouble(1) - plain(x)) < 1e-9, s"row $j: duplicate ids score per row")
      }
    }
  }

  test("predict streamed layout: 2 jobs when called (the probe and the fold), none to collect") {
    val (_, df, model, _) = regimeFit
    val nSv = model.numSupportVectors
    // one partition, not a local relation: the probe is one job
    val few = spark.createDataFrame(
      spark.sparkContext.parallelize(df.filter($"id" < nSv - 1).collect().toSeq, 1), df.schema)
    val streamed = model.copy(broadcastThreshold = nSv - 1)
    for (exact <- Seq(false, true)) {
      val (scored, jobs) = jobsDuring(
        if (exact) streamed.predictQuantized(few, "id", "vec") else streamed.predict(few, "id", "vec"))
      assert(jobs === 2, s"exact $exact: predict submitted $jobs jobs")
      val (rows, none) = jobsDuring(scored.select($"id", $"decision", $"prediction").collect())
      assert(none === 0, s"exact $exact: collecting the scores submitted $none jobs")
      assert(rows.length === nSv - 1)
    }
  }

  test("predict streamed layout: float decisions repeat bit for bit, partials added in SV partition order") {
    // 4 SV partitions, terms of mixed magnitudes: the order the partials
    // are added in shows in the last bits
    val rng = new scala.util.Random(8)
    val table = Seq.tabulate(203)(_ => (Array.fill(6)(rng.nextGaussian()),
      rng.nextGaussian() * math.pow(10, rng.nextInt(7) - 3)))
    val svRdd = spark.sparkContext.parallelize(
      table.map { case (x, c) => org.apache.spark.sql.Row(x.toSeq, c) }, 4)
    val svs = spark.createDataFrame(svRdd, org.apache.spark.sql.types.StructType.fromDDL(
      "sv_x array<double>, sv_coef double"))
    val k = Kernel.Rbf(0.3)
    val model = IcfSvmModel(k, svs, table.size, -0.125, 6, broadcastThreshold = table.size - 1)
    val rows = Seq.tabulate(37)(i => (i.toLong, Array.fill(6)(rng.nextGaussian())))
    val df = rows.toDF("id", "vec")
    // plain Scala: each partition's SVs folded in order, then the partials
    // added in partition order from 0.0
    val parts = svRdd.glom().collect().map(_.map(r => (r.getSeq[Double](0).toArray, r.getDouble(1))))
    assert(parts.length === 4)
    val want = bits(rows.map { case (id, x) =>
      val partials = parts.map(_.foldLeft(0.0) { case (acc, (sv, c)) => acc + c * k(sv, x) })
      id -> (partials.foldLeft(0.0)(_ + _) + model.bias)
    }.toMap)
    for (run <- 1 to 6) assert(bits(decisions(model.predict(df, "id", "vec"))) === want, s"run $run")
  }

  test("predict map layout: duplicate ids are scored per row, and a predict takes at most 2 jobs") {
    val (_, df, model, plain) = regimeFit
    val a = Array(1.5, -1.5)
    val b = Array(-0.5, 2.0)
    val dups = Seq((7L, a), (7L, b), (8L, a)).toDF("id", "vec")
    for (m <- Seq(model, model.copy(svs = model.svs.repartition(3)),
                  model.copy(broadcastThreshold = 2))) {
      val got = m.predict(dups, "id", "vec").select($"vec", $"decision")
        .as[(Seq[Double], Double)].collect()
      assert(got.length === 3)
      got.foreach { case (x, d) =>
        assert(math.abs(d - plain(x)) < 1e-9, s"$x: $d vs plain ${plain(x)}")
      }
      val exact = m.predictQuantized(dups, "id", "vec").select($"vec", $"decision")
        .as[(Seq[Double], Double)].collect()
      val byVec = exact.groupBy(_._1).map { case (x, ds) => x -> ds.map(_._2).distinct.toSeq }
      assert(byVec.values.forall(_.size == 1), s"one exact decision per vector: $byVec")
      assert(byVec(a.toSeq) != byVec(b.toSeq), "duplicate ids keep their own decisions")
    }

    // the SV collect, then the scoring job: no shuffle stage, no join back
    val (rows, jobs) = jobsDuring(model.predict(df, "id", "vec").collect())
    assert(rows.length === df.count())
    assert(jobs <= 2, s"$jobs jobs")
  }

  private def bits(d: Map[Long, Double]): Map[Long, Long] =
    d.map { case (id, v) => id -> java.lang.Double.doubleToRawLongBits(v) }

  test("exact scoring is bit-identical across layouts and partitionings") {
    val (pts, df, model, _) = regimeFit
    val nSv = model.numSupportVectors
    val few = df.filter($"id" < nSv - 1)
    val ref = decisions(model.predictQuantized(df, "id", "vec"))
    // within (nSV + 1)·1e-12 of the float decisions: quantization noise only
    val float = decisions(model.predict(df, "id", "vec"))
    assert(ref.keySet === float.keySet && ref.size === pts.size)
    float.foreach { case (id, d) =>
      assert(math.abs(d - ref(id)) <= (nSv + 1) * 1e-12, s"id $id: exact ${ref(id)} vs float $d")
    }
    val streamedModel = model.copy(broadcastThreshold = nSv - 1)
    val streamed = streamedModel.predictQuantized(few, "id", "vec")
    assert(!crossJoins(streamed), "the streamed layout must not plan a cross join")
    val cross = model.copy(broadcastThreshold = 2)
    assert(crossJoins(cross.predictQuantized(df, "id", "vec")))
    assert(narrow(model.predictQuantized(df, "id", "vec")))
    val reshardedSvs = model.svs.repartition(7)
    // integer picounit sums: every layout, partitioning and reduction tree
    // (the map layout's SV table order included) must give the map
    // layout's bits exactly
    val byLayout = Seq(
      "map, rows in 7 partitions" ->
        model.predictQuantized(df.repartition(7), "id", "vec"),
      "map, SVs and rows in 7 partitions" ->
        model.copy(svs = reshardedSvs).predictQuantized(df.repartition(7), "id", "vec"),
      "streamed" -> streamed,
      "streamed, SVs and rows in 7 partitions" ->
        streamedModel.copy(svs = reshardedSvs).predictQuantized(few.repartition(7), "id", "vec"),
      "cross" -> cross.predictQuantized(df, "id", "vec"),
      "cross, SVs and rows in 7 partitions" ->
        cross.copy(svs = reshardedSvs).predictQuantized(df.repartition(7), "id", "vec"))
    val refBits = bits(ref)
    for ((name, scored) <- byLayout) {
      val got = bits(decisions(scored))
      assert(got.nonEmpty && got.keySet.subsetOf(refBits.keySet), name)
      got.foreach { case (id, b) =>
        assert(b === refBits(id), s"$name id $id: ${java.lang.Double.longBitsToDouble(b)} vs ${ref(id)}")
      }
    }
    assert(decisions(streamed).keySet === (0L until nSv - 1).toSet)
    assert(streamed.columns.toSeq === df.columns.toSeq ++ Seq("decision", "prediction"))
  }

  test("exact bits agree across layouts at every 4-pair tail, with a null and a short vector") {
    // nSV (the map layout's panel partners) and the scored rows (the
    // streamed layout's) ≡ 1, 2, 3 mod 4, off any vector width; a short
    // row and a short SV run the panels' clamp tails
    val rng = new scala.util.Random(5)
    def vec(n: Int) = Array.fill(n)(rng.nextGaussian())
    val kernels = Seq(Kernel.Linear, Kernel.Polynomial(0.3, 0.5, 2), Kernel.Rbf(0.4),
      Kernel.Laplacian(0.25))
    for ((nSv, nRows) <- Seq((9, 5), (10, 6), (11, 7)); k <- kernels) {
      val table = Seq.tabulate(nSv)(i => (vec(if (i == 3) 4 else 5), rng.nextGaussian()))
      val rows = Seq.tabulate(nRows)(i => (i.toLong, Option(vec(if (i == 1) 3 else 5)))) :+
        (nRows.toLong, Option.empty[Array[Double]])
      val df = rows.toDF("id", "vec")
      val svs = table.toDF("sv_x", "sv_coef").coalesce(1)
      val model = IcfSvmModel(k, svs, nSv, 0.375, 5)
      val streamed = model.copy(broadcastThreshold = nSv - 1)
      val cross = model.copy(broadcastThreshold = 2)
      // the scalar definition: Σ floor(coef·k(sv, x)·1e12) picounits + bias
      val want = rows.map { case (id, x) =>
        id -> (x.fold(0L)(x => table.map { case (sv, c) =>
          Math.floor(c * k(sv, x) * IcfSvmModel.Picounits).toLong }.sum).toDouble /
          IcfSvmModel.Picounits + model.bias)
      }.toMap
      val byLayout = Seq(
        "map" -> model.predictQuantized(df, "id", "vec"),
        "streamed" -> streamed.predictQuantized(df, "id", "vec"),
        "streamed, SVs in 3 partitions" ->
          streamed.copy(svs = svs.repartition(3)).predictQuantized(df, "id", "vec"),
        "cross" -> cross.predictQuantized(df, "id", "vec"))
      for ((name, scored) <- byLayout) {
        assert(bits(decisions(scored)) === bits(want), s"$k nSV $nSv rows $nRows: $name")
      }
      // float: on one SV partition the streamed fold adds each row's terms
      // in the map layout's order, so the bits agree too
      assert(bits(decisions(streamed.predict(df, "id", "vec"))) ===
        bits(decisions(model.predict(df, "id", "vec"))), s"$k nSV $nSv rows $nRows: float")
    }
  }

  test("exact streamed layout: null vector, empty frame and Long overflow") {
    val (_, _, model, _) = regimeFit
    val streamed = model.copy(broadcastThreshold = model.numSupportVectors - 1)
    val withNull = Seq((1000L, Option.empty[Array[Double]]), (1001L, Some(Array(1.5, -1.5))))
      .toDF("id", "vec")
    val got = decisions(streamed.predictQuantized(withNull, "id", "vec"))
    assert(got.keySet === Set(1000L, 1001L))
    assert(got(1000L) === model.bias, "a null vector must score bias")
    val mapped = decisions(model.predictQuantized(withNull, "id", "vec"))
    assert(bits(mapped)(1000L) === java.lang.Double.doubleToRawLongBits(model.bias),
      "map layout: a null vector must score bias")
    assert(bits(got)(1001L) === bits(mapped)(1001L))
    val empty = streamed.predictQuantized(withNull.filter($"id" < 0), "id", "vec")
    assert(empty.columns.contains("decision") && empty.columns.contains("prediction"))
    assert(empty.count() === 0L)

    // two terms of 5e18 picounits each fit a Long; their sum does not,
    // and must fail (streamed: in a partition's fold or the driver's sum
    // of the partials; map: in the row's fold) rather than wrap
    val svs = Seq((Array(1.0), 5e6), (Array(1.0), 5e6)).toDF("sv_x", "sv_coef")
    val one = Seq((1L, Array(1.0))).toDF("id", "vec")
    val huge = IcfSvmModel(Kernel.Linear, svs, 2, 0.0, 1, broadcastThreshold = 1)
    for (m <- Seq(huge.copy(svs = svs.coalesce(1)), huge.copy(svs = svs.repartition(2)),
                  huge.copy(broadcastThreshold = 2))) {
      val err = intercept[Exception](m.predictQuantized(one, "id", "vec").collect())
      val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(e => String.valueOf(e.getMessage).contains("long overflow")),
        chain.map(_.toString).mkString("\n"))
    }
    val single = huge.copy(svs = svs.limit(1), numSupportVectors = 1)
    assert(decisions(single.predictQuantized(one, "id", "vec")) === Map(1L -> 5e6))
  }

  test("saveText writes the psvm text format byte-for-byte") {
    val svs = Seq((Array(1.0e-5, -0.25, 3.0), 0.5)).toDF("sv_x", "sv_coef")
    val dir = graft.Scratch.dir("icfsvm_golden")
    val (_, jobs) = jobsDuring(IcfSvmModel(Kernel.Rbf(0.5), svs, 1, 0.125, 3).saveText(spark, dir))
    assert(jobs === 1, s"saveText submitted $jobs jobs")
    assert(spark.read.textFile(s"$dir/header").collect().toSeq === Seq(
      "svm_type c_svc", "kernel_type rbf", "gamma 0.5", "coef0 0.0", "degree 0",
      "total_sv 1", "dim 3", "rho -0.125", "SV"))
    assert(spark.read.textFile(s"$dir/sv").collect().toSeq === Seq("0.5 1:1.0E-5 2:-0.25 3:3.0"))
  }

  test("saveText to a file: URI overwrites an earlier model and loads back") {
    val dir = "file:" + graft.Scratch.dir("icfsvm_save_uri")
    val first = IcfSvmModel(Kernel.Rbf(0.25), Seq((Array(1.0, 2.0, 3.0), 0.5), (Array(0.0, 1.0, 0.0), -0.5))
      .toDF("sv_x", "sv_coef"), 2, 0.5, 3)
    val second = IcfSvmModel(Kernel.Linear, Seq((Array(0.25, -1.0), 1.5)).toDF("sv_x", "sv_coef"),
      1, -0.25, 2)
    first.saveText(spark, dir)
    second.saveText(spark, dir)
    val loaded = IcfSvmModel.loadText(spark, dir)
    assert(loaded.kernel === Kernel.Linear && loaded.bias === -0.25 &&
      loaded.numSupportVectors === 1L && loaded.dim === 2)
    assert(loaded.svs.as[(Array[Double], Double)].collect().map { case (x, c) => (x.toSeq, c) }
      .toSeq === Seq((Seq(0.25, -1.0), 1.5)))
  }

  test("loadText reads its header from a file: URI without a Spark job") {
    val svs = Seq((Array(0.5, -1.0), 0.75), (Array(-2.0, 0.25), -1.5)).toDF("sv_x", "sv_coef")
    val model = IcfSvmModel(Kernel.Polynomial(0.5, 1.0, 3), svs, 2, -0.375, 2)
    val dir = java.nio.file.Paths.get(graft.Scratch.dir("icfsvm_uri"))
    model.saveText(spark, dir.toString)
    // Hadoop's local file system writes `_SUCCESS` and `.crc` siblings;
    // they must not be read as header lines
    val names = dir.resolve("header").toFile.list().toSet
    assert(names.contains("_SUCCESS") && names.exists(n => n.startsWith(".") && n.endsWith(".crc")),
      names.toString)
    val (loaded, jobs) = jobsDuring(IcfSvmModel.loadText(spark, "file:" + dir))
    assert(jobs === 0, s"loadText submitted $jobs jobs")
    assert(loaded.kernel === model.kernel && loaded.bias === model.bias &&
      loaded.numSupportVectors === 2L)
    val x = Seq((1L, Array(1.0, 2.0))).toDF("id", "vec")
    assert(bits(decisions(loaded.predictQuantized(x, "id", "vec"))) ===
      bits(decisions(model.predictQuantized(x, "id", "vec"))))
  }

  test("loadText: an out-of-range index fails loudly, and the SV plan never boxes elements") {
    val dir = graft.Scratch.dir("icfsvm_badidx")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/header"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/sv"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/header/part-00000"),
      "svm_type c_svc\nkernel_type linear\ngamma 0.0\ncoef0 0.0\ndegree 0\n" +
        "total_sv 2\ndim 4\nrho -0.5\nSV\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/sv/part-00000"), "1.0 2:3.0\n-2.0 5:1.0\n")
    val m = IcfSvmModel.loadText(spark, dir)
    // a Seq-typed vector would serialize through mapobjects, boxing
    // every element that the kernel then unboxes per (row, SV) pair
    val plan = m.svs.queryExecution.toString.toLowerCase
    assert(!plan.contains("mapobjects"), s"boxed SV vectors in the plan:\n$plan")
    val err = intercept[Exception](m.svs.collect())
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    assert(msgs.exists(_.contains("SV feature index 5 outside [1, 4]")), msgs.mkString("\n"))
  }

  test("per-class C weights shift the confusion matrix toward the rare class") {
    // 10:1 imbalanced overlapping blobs: unweighted C under-recalls the
    // rare positive class; boosting posWeight must raise tp (recall).
    val rng = new scala.util.Random(13)
    val pts = (0 until 220).map { i =>
      val pos = i % 11 == 0                       // ~9% positive
      val cx = if (pos) 0.8 else -0.8             // heavy overlap
      (i.toLong,
       Array(cx + rng.nextGaussian(), cx + rng.nextGaussian()),
       if (pos) 1.0 else -1.0)
    }
    val df = pts.toDF("id", "vec", "y").persist()
    def tpOf(posWeight: Double): Long = {
      val m = IcfSvmTrainer.fit(df, "id", "vec", "y",
        Kernel.Rbf(0.5), rank = 16, c = 1.0, maxIter = 40,
        posWeight = posWeight)
      SvmEvaluator.evaluate(m.predict(df, "id", "vec"), "y")
        .head.getAs[Long]("tp")
    }
    val tpPlain = tpOf(1.0)
    val tpWeighted = tpOf(10.0)
    info(s"tp unweighted=$tpPlain, tp with posWeight=10: $tpWeighted")
    assert(tpWeighted > tpPlain,
      "upweighting the rare class must recover more of its points")
  }

  test("non-separable data: SV set stays distributed (O(n) SVs, no driver copy)") {
    // random labels -> nothing is separable -> nearly every point is a
    // support vector; the model must hold them as a DataFrame and still
    // score correctly
    val rng = new scala.util.Random(7)
    val pts = (0 until 200).map { i =>
      (i.toLong,
       Array(rng.nextGaussian(), rng.nextGaussian()),
       if (rng.nextBoolean()) 1.0 else -1.0)
    }
    val df = pts.toDF("id", "vec", "y")
    val model = IcfSvmTrainer.fit(df, "id", "vec", "y",
      Kernel.Rbf(0.5), rank = 12, c = 1.0, maxIter = 40, tol = 1e-4)
    info(s"support vectors: ${model.numSupportVectors} of ${pts.size}")
    assert(model.numSupportVectors > pts.size / 2,
      "non-separable data should make most points support vectors")
    // the SV set is a (distributed) DataFrame, not a driver-side array
    assert(model.svs.columns.contains("sv_x") && model.svs.columns.contains("sv_coef"))
    val scored = model.predict(df, "id", "vec")
    assert(scored.count() === pts.size.toLong)
    val acc = SvmEvaluator.evaluate(scored, "y").head.getAs[Double]("accuracy")
    assert(acc > 0.5, s"in-sample accuracy should beat chance, got $acc")
  }

  test("loadText places sparse idx:val entries at their declared positions") {
    // a hand-written SPARSE model (zeros omitted, indices skip) — the
    // positional-parse bug would misalign x2/x4 into slots 2/3
    val dir = graft.Scratch.dir("icfsvm_sparse")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/header"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/sv"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/header/part-00000"),
      "svm_type c_svc\nkernel_type linear\ngamma 0.0\ncoef0 0.0\ndegree 0\n" +
        "total_sv 2\ndim 4\nrho -0.5\nSV\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/sv/part-00000"),
      "1.0 2:3.0 4:5.0\n-2.0 1:1.0\n")
    val m = IcfSvmModel.loadText(spark, dir)
    assert(m.bias === 0.5)
    val svs = m.svs.as[(Seq[Double], Double)].collect().sortBy(_._2)
    assert(svs(0) === (Seq(1.0, 0.0, 0.0, 0.0), -2.0))
    assert(svs(1) === (Seq(0.0, 3.0, 0.0, 5.0), 1.0))
    // linear-kernel decision for x = (1,1,1,1): 1*(3+5) + (-2)*1 + 0.5
    val scored = m.predict(
        Seq((1L, Seq(1.0, 1.0, 1.0, 1.0))).toDF("id", "vec"), "id", "vec")
      .select("decision").as[Double].head()
    assert(math.abs(scored - 6.5) < 1e-12, s"sparse decision $scored != 6.5")
  }

  test("ICF checkpoint/resume is bit-exact vs an uninterrupted run") {
    val rng = new scala.util.Random(31)
    val pts = (0 until 60).map { i =>
      (i.toLong, Array.fill(4)(rng.nextGaussian()))
    }
    val df = pts.toDF("id", "vec")
    val kernel = Kernel.Rbf(0.3)
    val dir = graft.Scratch.dir("icf_ckpt")

    def collectH(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
      d.as[(Long, Seq[Double])].collect().toMap

    // full run with checkpointing: dumps the H prefix at column 4
    val full = collectH(Icf.factorize(df, "id", "vec", kernel, rank = 8,
      checkpointEvery = 4, checkpointDir = Some(dir)).rows)
    assert(new java.io.File(s"$dir/state").exists(), "checkpoint written mid-run")
    // "crashed and rerun": a fresh call against the same dir resumes from
    // column 4 and must reproduce the uninterrupted factor EXACTLY —
    // every ICF pass is a per-row map + order-independent max-reduce
    val resumed = collectH(Icf.factorize(df, "id", "vec", kernel, rank = 8,
      checkpointEvery = 4, checkpointDir = Some(dir)).rows)
    assert(resumed === full, "resumed factor differs from uninterrupted run")
  }

  test("IPM checkpoint/resume converges to the same alphas") {
    val rng = new scala.util.Random(47)
    val pts = (0 until 60).map { i =>
      val pos = i % 2 == 0
      val cx = if (pos) 2.0 else -2.0
      (i.toLong,
       Array(cx + rng.nextGaussian() * 0.4, cx + rng.nextGaussian() * 0.4),
       if (pos) 1.0 else -1.0)
    }
    val df = pts.toDF("id", "vec", "y")
    val map = Nystrom.fit(df, "id", "vec", Kernel.Rbf(0.5), numLandmarks = 20)
    val feats = Nystrom.transform(df, "vec", map, "h").persist()
    val dir = graft.Scratch.dir("ipm_ckpt")

    // uninterrupted solve
    val aFull = Ipm.solve(feats, "id", "y", "h", 1.0,
      maxIter = 40, tol = 1e-6).alphas
    val full = aFull.collect().toMap
    // "crashed" run: stops after 6 iterations, has dumped alphas at 3
    Ipm.solve(feats, "id", "y", "h", 1.0, maxIter = 6, tol = 1e-6,
      checkpointDir = Some(dir), checkpointEvery = 3)
    assert(new java.io.File(s"$dir/state").exists(), "checkpoint written mid-run")
    // resumed run continues from the dump instead of iteration 0
    val resSol = Ipm.solve(feats, "id", "y", "h", 1.0,
      maxIter = 40, tol = 1e-6, checkpointDir = Some(dir), checkpointEvery = 100)
    val (aRes, itersRes) = (resSol.alphas, resSol.iterations)
    val res = aRes.collect().toMap
    feats.unpersist()
    assert(itersRes > 3, "resume continues counting from the saved iteration")
    val maxDiff = full.map { case (id, a) => math.abs(a - res(id)) }.max
    info(f"max |alpha_full - alpha_resumed| = $maxDiff%.2e")
    assert(maxDiff < 1e-4,
      s"resumed solve must reach the same optimum (max diff $maxDiff)")
  }

  test("factored-KKT bias agrees with the exact-kernel free-SV mean when ICF is tight") {
    // overlapping blobs -> non-separable, plenty of free SVs. The fit
    // derives b through the ICF factor (the reference's own math); with
    // a rank that captures the kernel well the exact-kernel KKT mean
    // over the same free set must agree up to ICF residual + solver
    // slack.
    val rng = new scala.util.Random(7)
    val pts = (0 until 200).map { i =>
      val pos = i % 2 == 0
      val cx = if (pos) 0.8 else -0.8
      (i.toLong,
       Array(cx + rng.nextGaussian(), -cx + rng.nextGaussian()),
       if (pos) 1.0 else -1.0)
    }
    val df = pts.toDF("id", "vec", "y")
    val kern = Kernel.Rbf(0.5)
    val m = IcfSvmTrainer.fit(df, "id", "vec", "y", kern,
      rank = 32, c = 1.0, maxIter = 60)
    // exact-kernel KKT mean over the free SVs, straight from the model
    import org.apache.spark.sql.functions._
    val free = m.svs.filter($"sv_alpha" < lit(1.0) * (1 - 1e-3))
      .select($"sv_id".as("__fid"), $"sv_x".as("__fx"), $"sv_y".as("__fy"))
    val bExact = m.svs.select($"sv_x", $"sv_coef")
      .crossJoin(broadcast(free))
      .groupBy($"__fid", $"__fy")
      .agg(sum($"sv_coef" * kern($"sv_x", $"__fx")).as("__s"))
      .agg(avg($"__fy" - $"__s")).head().getDouble(0)
    info(f"bias factored = ${m.bias}%.6f, exact-kernel mean = $bExact%.6f")
    assert(math.abs(m.bias - bExact) < 2e-2,
      s"factored-KKT bias must track the exact-kernel mean: ${m.bias} vs $bExact")
    m.unpersist()
  }
}
