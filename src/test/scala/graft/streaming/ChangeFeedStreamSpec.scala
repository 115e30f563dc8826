package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ChangeFeedStreamSpec extends SparkSpec {
  import spark.implicits._

  private def mkRoot(): String = {
    val root = graft.Scratch.dir("s13_spec")
    val empty = Seq.empty[(Long, Double, String, Boolean, Int)]
      .toDF("k", "price", "status", "deleted", "version")
    empty.write.mode("overwrite").parquet(s"$root/state_0")
    empty.groupBy($"status")
      .agg(count(lit(1)).as("n_keys"),
           sum(round($"price" * lit(100.0), 0).cast("long")).as("sum_cents"))
      .write.mode("overwrite").parquet(s"$root/agg_0")
    root
  }

  private def batch(rows: (Long, Double, String, Boolean, Int)*): DataFrame =
    rows.toDF("k", "price", "status", "deleted", "version")

  private def agg(root: String): Map[String, (Long, Double)] =
    spark.read.parquet(s"$root/agg_${EventStreams.latestStateVersion(root)}")
      .collect().map(r => r.getAs[String]("status") ->
        (r.getAs[Long]("n_keys"), r.getAs[Long]("sum_cents") / 100.0)).toMap

  test("s13: delete-then-reinsert inside ONE batch telescopes to the net effect") {
    val root = mkRoot()
    try {
      ChangeFeedStream.applyBatch(spark, root, batch((1L, 10.0, "A", false, 1)))
      // v2 tombstone + v3 reinsert arrive together: net = reinsert
      ChangeFeedStream.applyBatch(spark, root,
        batch((1L, 0.0, null, true, 2), (1L, 30.0, "B", false, 3)))
      assert(agg(root) == Map("B" -> ((1L, 30.0))), s"got ${agg(root)}")
    } finally graft.Scratch.delete(root)
  }

  test("s13: the same final view lands under any batching, and replays are no-ops") {
    val rows = Seq(
      (1L, 10.0, "A", false, 1), (2L, 20.0, "A", false, 1), (3L, 30.0, "C", false, 1),
      (1L, 15.0, "B", false, 2), (2L, 0.0, null, true, 2),
      (2L, 25.0, "R", false, 3))
    // batching 1: one row per batch; batching 2: everything at once
    val r1 = mkRoot(); val r2 = mkRoot()
    try {
      rows.foreach(r => ChangeFeedStream.applyBatch(spark, r1, batch(r)))
      ChangeFeedStream.applyBatch(spark, r2, batch(rows: _*))
      val want = Map("B" -> ((1L, 15.0)), "R" -> ((1L, 25.0)), "C" -> ((1L, 30.0)))
      assert(agg(r1) == want, s"per-row batching got ${agg(r1)}")
      assert(agg(r2) == want, s"single batch got ${agg(r2)}")
      // replaying an old batch (crash-recovery path) must change nothing
      ChangeFeedStream.applyBatch(spark, r1, batch(rows(3)))
      ChangeFeedStream.applyBatch(spark, r1, batch(rows: _*))
      assert(agg(r1) == want, s"replay must be a no-op, got ${agg(r1)}")
    } finally {
      graft.Scratch.delete(r1)
      graft.Scratch.delete(r2)
    }
  }

  test("s13: applyBatch releases its checkpointed join after both writes") {
    val root = mkRoot()
    try {
      // checked right after each call: an unreleased checkpoint is only
      // weakly held once applyBatch returns, so a later GC would hide it
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val added = Seq((1L, 10.0, "A", false, 1), (1L, 15.0, "B", false, 2),
          (2L, 20.0, "A", false, 1)).map { r =>
        ChangeFeedStream.applyBatch(spark, root, batch(r))
        (spark.sparkContext.getPersistentRDDs.keySet -- before).size
      }
      assert(added === Seq(0, 0, 0))
      assert(agg(root) == Map("A" -> ((1L, 20.0)), "B" -> ((1L, 15.0))), s"got ${agg(root)}")
    } finally graft.Scratch.delete(root)
  }

  test("s13 query: streaming view equals the oracle-resolved v3 state on sf0.001") {
    val out = ChangeFeedStream.s13StreamChangeFeed(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_keys")).toMap
    // v3 state: BASE keys not updated/deleted, U2 updates, U3 rewrites
    assert(out.keySet == Set("BASE", "U2", "U3"), s"got ${out.keySet}")
    assert(out.values.sum > 0)
  }
}
