package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Plan-shape regression gates for the round-10 operators: the physical
  * plan properties the scale story depends on, pinned so a refactor
  * that silently turns a broadcast into a shuffle (or a pruned read
  * into a full scan) fails a spec instead of a decade run.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("q52 ppr: sub-cutoff message joins are broadcast, not shuffled-by-key") {
    val base = (0 until 30).map(i => (s"n$i", s"n${(i + 1) % 30}")).toDF("src", "dst")
    val sym = base.union(base.select($"dst".as("src"), $"src".as("dst")))
    val out = Ppr.personalizedRanks(sym, Seq("n0").toDF("node"))
    // assert on the PRODUCTION iteration frame (Ppr.messageAgg — the
    // method the loop runs), not a hand-rebuilt lookalike: a regression
    // that drops the broadcast hint inside Ppr now fails here
    val deg = sym.groupBy($"src".as("node")).agg(count(lit(1)).as("outdeg"))
    val msg = deg.select($"node".as("src"), lit(1000L).as("c"))
    val bPlan = Ppr.messageAgg(sym, msg, useBroadcast = true)
      .queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin"), s"message join must broadcast:\n$bPlan")
    // and the beyond-cutoff branch must NOT pin a broadcast: with the
    // hint absent and broadcast sizing disabled, the same frame shuffles
    val shPlan = graft.operators.ScaleOps.withConfs(spark,
      Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
      Ppr.messageAgg(sym, msg, useBroadcast = false)
        .queryExecution.executedPlan.toString
    }
    assert(!shPlan.contains("BroadcastHashJoin"),
      s"beyond-cutoff branch must not force a broadcast:\n$shPlan")
    assert(out.collect().nonEmpty)
  }

  test("p56 train order: shard routing adds no exchange before the per-shard window") {
    val df = (0L until 200L).toDF("doc_id")
    val routed = graft.pipeline.TrainingOps.trainOrder(df, "doc_id", 1, 4)
    val phys = routed.queryExecution.executedPlan.toString
    // exactly ONE exchange: the hash partitioning the window needs on
    // `shard`. Key derivation and routing are map-side.
    val exchanges = "Exchange".r.findAllIn(phys).length
    assert(exchanges == 1, s"expected exactly one exchange (the window's):\n$phys")
    assert(phys.contains("hashpartitioning(shard"),
      s"the one exchange must be the shard window's:\n$phys")
  }

  test("mm8 scene cuts: decode+SAD is one narrow pass (no exchange before the keyframe rows)") {
    val media = graft.multimodal.SceneCuts.sceneVideoFromDocuments(spark, dir)
      .select($"media_id", $"payload", $"planted_cut")
    val phys = media.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"generation must be shuffle-free:\n$phys")
  }

  test("u17 read-back prunes to the filtered partitions") {
    val ev = Seq(
      (1L, 1L, "click", "2024-01-10 01:00:00", 1.0),
      (2L, 2L, "view", "2024-01-11 01:00:00", 2.0),
      (3L, 3L, "buy", "2024-01-13 01:00:00", 3.0)
    ).toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")
    val tmp = graft.Scratch.dir("planshape")
    try {
      ev.withColumn("event_date", to_date($"ts"))
        .write.partitionBy("event_date").mode("overwrite").parquet(tmp)
      val pruned = spark.read.parquet(tmp)
        .filter($"event_date" === lit("2024-01-11").cast("date"))
      val scan = pruned.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
      assert(scan.contains("PartitionFilters") && scan.contains("2024-01-11"),
        s"date filter must reach the partition listing:\n$scan")
      assert(pruned.count() == 1)
    } finally graft.Scratch.delete(tmp)
  }

  test("p62 fim: the transform is one narrow pass — the only exchange is the output sort") {
    val out = graft.pipeline.FimTransform.query(spark, dir)
    val phys = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(phys).length
    assert(exchanges == 1, s"expected exactly one exchange (the orderBy's):\n$phys")
    assert(phys.contains("rangepartitioning"),
      s"the one exchange must be the output sort, not a shuffle:\n$phys")
  }

  test("p63 kl: the (source, word) count tables combine map-side before their shuffles") {
    val out = graft.pipeline.MixtureDivergence.query(spark, dir)
    val phys = out.queryExecution.executedPlan.toString
    assert(phys.contains("partial_count") || phys.contains("partial"),
      s"count tables must partial-aggregate:\n$phys")
  }

  test("u20 change feed: classification is ONE keyed window — no second shuffle for the images") {
    val root = graft.Scratch.dir("u20_planshape")
    try {
      VersionedTable.commit(
        Seq((1L, 1.0, "A", false)).toDF("k", "price", "status", "deleted"), root, 1)
      val out = ChangeFeed.changesBetween(spark, root, 0, 1)
      val phys = out.queryExecution.executedPlan.toString
      // one hash exchange (the key window); the four change images must
      // explode row-locally after it, never re-shuffle
      val exchanges = "Exchange".r.findAllIn(phys).length
      assert(exchanges == 1, s"expected exactly the window's exchange:\n$phys")
      assert(phys.contains("hashpartitioning(k"),
        s"the one exchange must key on k:\n$phys")
      assert(phys.contains("Generate"), s"images must explode row-locally:\n$phys")
    } finally graft.Scratch.delete(root)
  }

  test("p39d byte bpe: pretokenization is one narrow codegen pass (no exchange)") {
    val pt = graft.text.ByteBpe.pretokens(graft.Tables.documents(spark, dir))
    val phys = pt.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"pretokenize must be shuffle-free:\n$phys")
    assert(phys.contains("Generate"), s"pretokens explode row-locally:\n$phys")
  }

  test("p57 kn model: count aggregations carry partial (map-side) aggregation") {
    val occ = Seq(("a", "b", "c"), ("b", "c", "a"), ("a", "b", "d"))
      .toDF("w1", "w2", "w3")
    val scored = graft.text.KnTrigramLm.scoreTriples(occ, occ.distinct())
    val phys = scored.queryExecution.executedPlan.toString
    // every HashAggregate pair must include partial modes — the count
    // tables combine map-side before their shuffles
    assert(phys.contains("partial_count") || phys.contains("partial"),
      s"count tables must partial-aggregate:\n$phys")
  }

  test("m16 sparse Nystrom transform: one narrow codegen map, zero exchange") {
    // a real (range) source so the map has a codegen stage to live in —
    // a LocalTableScan fixture would yield no WholeStageCodegen at all
    val rows = spark.range(64).toDF("id")
      .withColumn("indices", array(($"id" % 8).cast("int"), (lit(8) + $"id" % 8).cast("int")))
      .withColumn("values", array(lit(1.0), lit(2.0)))
    val map = graft.ml.SparseNystrom.fit(rows, "id", "indices", "values",
      graft.ml.Kernel.Rbf(0.1), 8)
    val phys = graft.ml.SparseNystrom.transform(rows, "indices", "values", map, "phi")
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"feature map must be shuffle-free:\n$phys")
    assert(phys.contains("*("), s"feature map must codegen (no *(n) stage):\n$phys")
  }

  test("m14 sparse kernels: the fused merge expressions run inside whole-stage codegen") {
    // range sources with DATA-DEPENDENT arrays: literal arrays get
    // constant-folded (the expressions correctly evaluate at plan time),
    // which would hide them from the physical plan
    val a = spark.range(4).select($"id".as("id_a"),
      array($"id".cast("int"), lit(2)).as("ia"), array(lit(1.0), lit(2.0)).as("va"))
    val b = spark.range(4).select($"id".as("id_b"),
      array(lit(1), $"id".cast("int") + 2).as("ib"), array(lit(3.0), lit(4.0)).as("vb"))
    val out = a.crossJoin(b).select(
      graft.ml.Kernel.Linear.sparse($"ia", $"va", $"ib", $"vb").as("d"),
      graft.ml.Kernel.Rbf(0.1).sparse($"ia", $"va", $"ib", $"vb").as("r"))
    out.collect() // finalize the AQE plan so codegen stages render
    val phys = out.queryExecution.executedPlan.toString
    assert(phys.contains("sparse_dot") && phys.contains("sparse_sq_distance"),
      s"fused sparse expressions must survive into the physical plan:\n$phys")
    assert(phys.contains("*("), s"sparse kernels must codegen (no *(n) stage):\n$phys")
  }

  test("p67 nn-descent refine: candidate expansion joins by key — no cartesian, no nested-loop") {
    val vecs = (0 until 40).map(i => (i.toLong, Seq.fill(8)((i % 5).toFloat)))
      .toDF("vec_id", "embedding")
    val g = graft.sim.NnDescent.knnGraph(vecs, "vec_id", "embedding", k = 4, rounds = 1)
    val phys = g.queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct"),
      s"refine must never cross-join the corpus:\n$phys")
    assert(!phys.contains("BroadcastNestedLoopJoin"),
      s"refine must join edges by key:\n$phys")
  }

  test("p67b hop: the beam is broadcast onto the edge list — the edges never shuffle") {
    val edges = (0L until 60L).map(i => (i, (i + 1) % 60)).toDF("src", "nbr")
    val beam = Seq((1L, 2L), (1L, 3L), (2L, 7L)).toDF("qid", "node")
    val visited = Seq((1L, 2L)).toDF("qid", "node")
    // assert on the PRODUCTION hop frame (GraphSearch.hopFrontier — the
    // method the walk loop runs), per the q52 discipline
    val phys = graft.sim.GraphSearch.hopFrontier(edges, beam, visited)
      .queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      s"the beam side must broadcast to the edge join:\n$phys")
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"hop expansion must stay an equi-join:\n$phys")
  }

  test("q39b exact hitters: keyed counts combine map-side; the total joins as a 1-row broadcast") {
    val out = HeavyHitters.exactQuery(spark, dir)
    val phys = out.queryExecution.executedPlan.toString
    assert(phys.contains("partial_count") || phys.contains("partial count"),
      s"the keyed count must carry map-side partial aggregation:\n$phys")
    assert(phys.contains("Broadcast"),
      s"the 1-row total must reach the counts via broadcast, never a shuffle:\n$phys")
    assert(!phys.contains("CartesianProduct"),
      s"the total join must not plan as a cartesian:\n$phys")
  }
}
