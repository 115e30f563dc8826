package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without an exchange on either side") {
    val dir = graft.Scratch.dir("buckets")
    spark.sql("DROP TABLE IF EXISTS bt_orders")
    spark.sql("DROP TABLE IF EXISTS bt_lines")
    val orders = (1L to 1000L).map(i => (i, i % 7)).toDF("okey", "status")
    val lines = (1L to 5000L).map(i => (i % 1000 + 1, i * 1.0)).toDF("okey", "qty")
    ScaleOps.writeBucketed(orders, "okey", 8, "bt_orders", s"$dir/o")
    ScaleOps.writeBucketed(lines, "okey", 8, "bt_lines", s"$dir/l")
    // force the sort-merge path (tiny test tables would otherwise be
    // broadcast, which bypasses bucketing entirely)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bt_orders").join(spark.table("bt_lines"), "okey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-located join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), "bucketed path uses sort-merge")
      assert(joined.count() === 5000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted join spreads a hot key and preserves join semantics") {
    // 10k rows of one hot key + some cold keys
    val probe = ((1 to 10000).map(_ => 1L) ++ (2L to 50L)).toDF("k")
    val build = (1L to 50L).map(k => (k, s"v$k")).toDF("bk", "v")
    val plain = probe.join(build, probe("k") === build("bk"))
      .groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = ScaleOps.saltedJoin(probe, build, "k", "bk", salt = 8)
      .groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted === plain, "salted join returns identical multiset")
    assert(salted(1L) === 10000L)
  }

  test("z-value interleaves bits and clusters both dimensions") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (0xFFFFL, 0xFFFFL))
      .toDF("a", "b")
      .select(ScaleOps.zValue($"a", $"b").as("z")).as[Long].collect()
    // z(a,b): a occupies even bits, b odd bits
    assert(rows.toSeq == Seq(0L, 1L, 2L, 15L, 0xFFFFFFFFL))
    // locality: points close in BOTH dims have closer z than points far
    // in one dim — (5,5) vs (6,6) nearer than (5,5) vs (5,60)
    def z(a: Long, b: Long): Long =
      Seq((a, b)).toDF("a", "b")
        .select(ScaleOps.zValue($"a", $"b").as("z")).as[Long].head()
    assert(math.abs(z(5, 5) - z(6, 6)) < math.abs(z(5, 5) - z(60, 5)))
  }

  test("range layout prunes files for range predicates") {
    val dir = graft.Scratch.dir("range") + "/data"
    val df = (1L to 10000L).map(i => (i, i % 97)).toDF("ts_key", "v")
    ScaleOps.writeRangeLayout(df, "ts_key", 10, dir)
    val back = spark.read.parquet(dir).filter($"ts_key".between(100, 200))
    assert(back.count() === 101)
    // 10 range partitions -> the filter touches a small subset of files;
    // verify multiple files were written so pruning is meaningful
    val files = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files >= 8, s"expected ~10 part files, got $files")
  }

  test("runtime bloom filter is injected on the probe side of the selective join") {
    ScaleOps.withConfs(spark, ScaleOps.RuntimeFilterConfs) {
      val dir = "/root/testdata/sf0.001"
      val sel = graft.Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"))
      val joined = graft.Tables.lineitem(spark, dir)
        .join(sel, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"runtime bloom filter must reach the probe side:\n$plan")
    }
  }

  test("date-partitioned layout prunes directories at planning time") {
    val dir = graft.Scratch.dir("datepart")
    ScaleOps.writeDatePartitioned(
      graft.Tables.events(spark, "/root/testdata/sf0.001"), "ts", dir)
    val dayDirs = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("event_date="))
    assert(dayDirs >= 25, s"expected ~30 day dirs, got $dayDirs")
    val pruned = spark.read.parquet(dir)
      .filter(col("event_date") >= lit("2024-01-10").cast("date") &&
              col("event_date") <= lit("2024-01-12").cast("date"))
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .get
    assert(scan.partitionFilters.nonEmpty, "partition filter must bind to the dir column")
    pruned.count() // execute so the numFiles metric is final
    val scanned = scan.metrics("numFiles").value
    val all = spark.read.parquet(dir).inputFiles.length
    assert(scanned < all,
      s"pruned scan must read a strict subset of files ($scanned vs $all)")
    graft.Scratch.delete(dir)
  }

  test("ivf postings layout serves probes through a partition-pruned scan") {
    // run the whole u10 query once (writes postings + probes under the
    // model root), then re-open the pruned scan it uses and assert the
    // probe filter bound to the partition column and skipped directories
    val dataDir = "/root/testdata/sf0.001"
    val res = ScaleOps.u10IvfLayoutQuery(spark, dataDir).collect()
    assert(res.length == 5, "one row per probe query")
    assert(res.forall(_.getLong(1) == 3L), "each query probes nprobe=3 cells")
    val root = graft.ml.ModelOracles.modelRoot(dataDir)
    val probed = spark.read.parquet(s"$root/u10_probes")
      .select(col("cell")).distinct().collect().map(_.getInt(0)).sorted
    assert(probed.length < 16, "probes must not touch every cell")
    val pruned = ScaleOps.prunedPostingsScan(spark, s"$root/u10_postings", probed)
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .get
    assert(scan.partitionFilters.nonEmpty,
      "probe cell list must bind as a partition filter, not a data filter")
    pruned.count()
    val scanned = scan.metrics("numFiles").value
    val all = spark.read.parquet(s"$root/u10_postings").inputFiles.length
    assert(scanned < all,
      s"probe must read a strict subset of posting files ($scanned vs $all)")
  }
}
