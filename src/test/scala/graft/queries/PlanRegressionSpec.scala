package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.execution.FormattedMode

/** Plan-shape regression gate: the scale-critical invariants the bench
  * history argues from (pushdown, broadcast strategy, no accidental
  * cartesians, codegen coverage) asserted as RED tests, so a Catalyst
  * upgrade or refactor that silently un-broadcasts a dim or introduces a
  * cross product fails here instead of surfacing as a slow bench run.
  *
  * Plans are built at sf0.001 — strategy choices for these queries are
  * identical across the test SFs (dims stay under the broadcast
  * threshold; filter/pruning shapes are SF-independent), and building
  * the DataFrame is free (nothing is executed, only explained). The ML
  * fit queries and iterative/checkpointed ops (m*, p14) are excluded:
  * their "plan" at explain time is a materialized local result, not the
  * dataflow that did the work. Streaming (s*) is covered by its own
  * engine-run specs.
  */
class PlanRegressionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val planCache = scala.collection.mutable.Map[String, String]()

  /** Execute (cheap at sf0.001) so AQE finalizes, then explain: the
    * formatted FINAL plan is the one with real join strategies and
    * WholeStageCodegen spans — the initial `isFinalPlan=false` skeleton
    * renders neither. */
  private def planOf(name: String, at: String = dir): String =
    planCache.getOrElseUpdate(s"$name@$at", {
      val df = graft.SparkEntry.queries(name)(spark, at)
      df.collect()
      df.queryExecution.explainString(FormattedMode)
    })

  /** At least one scan pushes a non-empty predicate list. */
  private def assertPushedFilters(name: String, plan: String): Unit =
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
      s"$name: no scan carries pushed filters")

  private def assertNoCartesian(name: String, plan: String): Unit =
    assert(!plan.contains("CartesianProduct"),
      s"$name: CartesianProduct in plan — a join lost its equi-condition")

  private def assertCodegen(name: String, plan: String): Unit =
    assert(plan.contains("[codegen id :"),
      s"$name: no whole-stage-codegen span — hot path fell out of codegen")

  private def assertBroadcast(name: String, plan: String): Unit =
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"$name: dimension join no longer broadcast")

  test("q1 pricing summary: filter pushed to scan, pruned columns, codegen") {
    val p = planOf("q1_pricing_summary")
    assertPushedFilters("q1", p)
    assert(!p.contains("l_comment"),
      "q1: scan reads l_comment — column pruning regressed")
    assertCodegen("q1", p)
    assertNoCartesian("q1", p)
  }

  test("q3 shipping priority: dims broadcast, filters pushed, codegen") {
    val p = planOf("q3_shipping_priority")
    assertBroadcast("q3", p)
    assertPushedFilters("q3", p)
    assertCodegen("q3", p)
    assertNoCartesian("q3", p)
  }

  test("q5 local supplier: 5-way join plans with broadcasts and no cartesian") {
    val p = planOf("q5_local_supplier")
    assertBroadcast("q5", p)
    assertCodegen("q5", p)
    assertNoCartesian("q5", p)
  }

  test("q6 forecast revenue: all three predicates pushed to the scan") {
    val p = planOf("q6_forecast_revenue")
    assertPushedFilters("q6", p)
    assertCodegen("q6", p)
  }

  test("q9 rollup and q18 large orders: shuffled aggregation, no cartesian") {
    for (name <- Seq("q9_rollup", "q18_large_orders")) {
      val p = planOf(name)
      assertCodegen(name, p)
      assertNoCartesian(name, p)
    }
  }

  test("dedup/pipeline plans: banded joins stay equi-joins (no cartesian)") {
    for (name <- Seq("p2_minhash_pairs", "p3_simhash_pairs", "p4_ngram_jaccard",
                     "p15_tfidf_topterms", "p17_pack", "p18_contamination",
                     "p13_curation_pipeline", "p29_lm_quality",
                     "q40_range_join", "q41_overlap_join")) {
      val p = planOf(name)
      assertNoCartesian(name, p)
      assertCodegen(name, p)
    }
  }

  test("p5b/p7 LSH bucketing stays on the fused hyperplane expression") {
    // the per-plane Column form expands to tables x planes separate
    // dot_products; past ~200 expressions the generated projection
    // exceeds JIT/codegen method limits and the stage silently runs
    // interpreted (measured 150s vs 3s on a 200k-vector corpus) — pin
    // the fused expression into the plan so a refactor can't reintroduce
    // the expanded form
    for (name <- Seq("p5b_embedding_dedup_lsh", "p7_ann_lsh")) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val analyzed = df.queryExecution.analyzed.toString
      assert(analyzed.contains("hyperplane_bucket_keys") ||
             // p5b materializes eagerly; its plan is the checkpointed
             // result — assert on the operator's own builder instead
             name == "p5b_embedding_dedup_lsh", s"$name: fused LSH keys missing")
    }
    // nearDupPairsLsh returns its pairs materialized: read the plan it runs
    val vectors = graft.dedup.EmbeddingDedup.lshVectors(
      graft.Tables.embeddings(spark, dir), "vec_id", "embedding")
    val lshPlan = graft.Materialize.scoped(vectors) {
      graft.dedup.EmbeddingDedup.lshPlan(vectors, 0.4, numTables = 12, planesPerTable = -1,
        dim = 64, maxBucketSize = 4096).queryExecution.analyzed.toString
    }
    assert(lshPlan.contains("hyperplane_bucket_keys"),
      "p5b builder: fused LSH keys missing from the bucketing plan")
  }

  test("p1 exact dedup: single hash aggregation over a pruned scan") {
    // the correct p1 answer is EMPTY at test SFs (the synthetic docs have
    // near-dups but no byte-exact copies), so AQE rightly collapses the
    // final plan to EmptyRelation — assert on the INITIAL plan's shape
    val p = planOf("p1_dedup_exact", "/root/testdata/sf0.01")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "p1: scan must read only (doc_id, text) — column pruning regressed")
    assert(p.contains("HashAggregate"),
      "p1: dedup must be a hash aggregation over content_hash")
    assertNoCartesian("p1", p)
  }

  test("top-k never sorts what it doesn't keep") {
    // global top-k must plan as TakeOrderedAndProject (per-partition
    // heaps + driver merge of k rows), NOT a global sort; per-key rank
    // filters must trigger WindowGroupLimit (per-partition group limits
    // before the window sort) — at 100 TB these are the difference
    // between shuffling k rows and shuffling/sorting the whole corpus.
    val q2 = planOf("q2_topk_orders")
    assert(q2.contains("TakeOrderedAndProject"),
      "q2: global top-k lost its TakeOrderedAndProject plan (full sort?)")
    for (name <- Seq("q8_rank_parts", "p24_stratified_sample")) {
      val p = planOf(name)
      assert(p.contains("WindowGroupLimit"),
        s"$name: rank filter no longer pushes WindowGroupLimit below the window")
    }
  }

  test("p27 weighted sample aggregates map-side, no window in the plan") {
    val p = planOf("p27_weighted_sample")
    assert(p.contains("ObjectHashAggregate"),
      "p27: custom Aggregator must plan as ObjectHashAggregate")
    assert(!p.contains("WindowGroupLimit") && !p.contains("RunningWindowFunction"),
      "p27: the sample must come from the bounded aggregate, not a window")
  }

  test("r6/r7 pipeline ops: equi-joins only, codegen, no nested loops") {
    for (name <- Seq("p36_bm25_search", "p39b_bpe_encode", "p40_dsir_resample",
                     "p43_html_extract", "mm3_phash_dedup")) {
      val p = planOf(name)
      assertNoCartesian(name, p)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name: BroadcastNestedLoopJoin appeared — a join lost its keys")
      assertCodegen(name, p)
    }
  }

  test("p40: the feature-hash-sized weight table joins back broadcast") {
    // the per-bucket LLR weight table is 64 rows; if it ever stops
    // broadcasting, the doc-scoring join shuffles the whole corpus
    // against a 64-row side
    assertBroadcast("p40", planOf("p40_dsir_resample"))
  }

  test("p44: dedup is one canonical-url window — no join anywhere") {
    val p = planOf("p44_url_dedup")
    assert(!p.contains("Join"), s"p44: unexpected join:\n$p")
    assert(p.contains("Window"), "p44: group decisions must come from a window")
  }

  test("q43/q44 consume the materialized edge artifact, not the derivation") {
    // the customer-supplier edge table is derived once per run
    // (orders ⋈ lineitem ⋈ distinct) and persisted; every PageRank
    // iteration and BFS hop must read the artifact parquet — if this
    // plan ever grows a join, the iterations re-derive the graph
    val e = graft.operators.PageRank.csEdges(spark, dir)
    val plan = e.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"),
      s"csEdges must be a bare artifact scan, got:\n$plan")
    assert(e.queryExecution.sparkPlan.toString.contains("Scan parquet") ||
           e.queryExecution.sparkPlan.toString.contains("FileScan"),
      "csEdges must read the persisted parquet artifact")
  }

  test("p2 orders the shared pairs artifact instead of re-running LSH") {
    // the verified near-dup pairs table is the process-scoped artifact
    // (one LSH-verify execution per run, shared by p2/p14/p25); p2's own
    // plan must therefore be a scan + sort with no aggregation — the
    // banding/bucket pipeline belongs to the artifact build, not here
    val df = graft.SparkEntry.queries("p2_minhash_pairs")(spark, dir)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Aggregate"),
      s"p2 must read the pairs artifact, got:\n$plan")
  }

  test("p47 line dedup: dictionary join equi-keyed on the line hash") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, dir)
    val lines = graft.dedup.LineDedup.exploded(graft.dedup.LineDedup.plantedLines(docs))
    val p = graft.Materialize.scoped(lines) {
      graft.dedup.LineDedup.pipeline(lines).queryExecution.explainString(FormattedMode)
    }
    assertNoCartesian("p47", p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "p47: dictionary join lost its hash key")
    assertCodegen("p47", p)
  }

  test("p48 hybrid: the sparse leg joins are keyed; fusion is an equi full-outer") {
    val tf = graft.sim.HybridSearch.postings(spark, dir)
    val p = graft.Materialize.scoped(tf) {
      graft.sim.HybridSearch.fused(spark, dir, tf).queryExecution.explainString(FormattedMode)
    }
    assertNoCartesian("p48", p)
    // the dense leg's 3-row broadcast scorer is the one DECLARED
    // non-equi join (the p6 exact-twin shape); the plan must still
    // carry keyed joins for postings/fusion
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
           p.contains("ShuffledHashJoin"),
      "p48: no keyed join left in the plan")
    assertCodegen("p48", p)
  }

  test("u13 bloom lookup: no join, custkey filter pushed to the pruned scan") {
    // the query itself materializes before its temp layout is deleted,
    // so assert on the lookup scan the bloom probe plans
    import graft.operators.BloomIndex
    val tmp = graft.Scratch.dir("plan_bloom")
    BloomIndex.writeClustered(graft.Tables.orders(spark, dir), "o_orderdate", 4, tmp)
    val manifest = BloomIndex.buildManifest(spark, tmp, "o_custkey")
      .localCheckpoint(true)
    val scan = BloomIndex.lookupScan(spark, tmp, manifest, "o_custkey", Seq(1L, 7L))
    val p = scan.queryExecution.explainString(FormattedMode)
    assert(!p.contains("Join"),
      "u13: the bloom probe is a metadata step — no join belongs in the scan plan")
    assert(p.contains("o_custkey"), "u13: lookup filter missing from the scan")
    assertPushedFilters("u13", p)
    graft.Scratch.delete(tmp)
  }

  test("q47/q48: grouping-sets is one Expand pass; range frame is a window, not a join") {
    val p47 = planOf("q47_grouping_sets")
    assert(p47.contains("Expand"), "q47: grouping sets must plan as Expand")
    assertNoCartesian("q47", p47)
    val p48 = planOf("q48_range_window")
    assert(p48.contains("Window"), "q48: range frame must stay a window")
    assert(!p48.contains("Join"),
      "q48: the trailing-90d metric regressed to a self-join")
  }

  test("declared compressed-domain scans are the ONLY nested-loop joins") {
    // p5/p6 (exact oracle twins) and p7c's ADC scan are cross joins BY
    // DESIGN; every other audited query must stay nested-loop-free.
    for (name <- Seq("q1_pricing_summary", "q3_shipping_priority",
                     "q5_local_supplier", "q9_rollup", "p2_minhash_pairs",
                     "p15_tfidf_topterms", "p18_contamination")) {
      val p = planOf(name)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name: BroadcastNestedLoopJoin appeared — a join lost its keys")
    }
  }
}
