package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def writeHist(rows: Seq[(Long, Double, String, Boolean, Int)], root: String): Unit =
    rows.groupBy(_._5).foreach { case (v, rs) =>
      VersionedTable.commit(
        rs.map { case (k, p, s, d, _) => (k, p, s, d) }.toDF("k", "price", "status", "deleted"),
        root, v)
    }

  test("u20: insert/update/delete classify against the previous live image") {
    val root = graft.Scratch.dir("cdf_spec")
    try {
      writeHist(Seq(
        (1L, 10.0, "A", false, 1),  // insert at v1
        (2L, 20.0, "B", false, 1),  // insert at v1, updated at v2
        (2L, 22.0, "B2", false, 2), // → update pre(20,B)/post(22,B2)
        (3L, 30.0, "C", false, 1),  // insert at v1, deleted at v2
        (3L, 0.0, null, true, 2),   // → delete carrying the PRE image (30,C)
        (4L, 0.0, null, true, 2)    // tombstone of a key never present → NOTHING
      ), root)
      val got = ChangeFeed.changesBetween(spark, root, 0, 2)
        .select($"k", $"price", $"status", $"_change_type", $"_commit_version")
        .as[(Long, Double, String, String, Int)].collect().toSet
      assert(got == Set(
        (1L, 10.0, "A", "insert", 1),
        (2L, 20.0, "B", "insert", 1),
        (2L, 20.0, "B", "update_preimage", 2),
        (2L, 22.0, "B2", "update_postimage", 2),
        (3L, 30.0, "C", "insert", 1),
        (3L, 30.0, "C", "delete", 2)), s"got $got")
    } finally graft.Scratch.delete(root)
  }

  test("u20: delete-then-reinsert emits insert (not an update pair), range lo filters versions") {
    val root = graft.Scratch.dir("cdf_spec2")
    try {
      writeHist(Seq(
        (7L, 70.0, "X", false, 1),
        (7L, 0.0, null, true, 2),   // delete at v2
        (7L, 77.0, "Y", false, 3)   // reinsert at v3 — must be 'insert'
      ), root)
      val all = ChangeFeed.changesBetween(spark, root, 0, 3)
        .select($"_change_type", $"_commit_version").as[(String, Int)].collect().toSeq
      assert(all.sorted == Seq(("delete", 2), ("insert", 1), ("insert", 3)), s"got $all")
      // range (2,3] sees only the reinsert — still classified insert,
      // because the pre-image lookup reads history BELOW the range
      val tail = ChangeFeed.changesBetween(spark, root, 2, 3)
        .select($"_change_type", $"_commit_version").as[(String, Int)].collect().toSeq
      assert(tail == Seq(("insert", 3)), s"got $tail")
    } finally graft.Scratch.delete(root)
  }

  test("u20 query: commit versions carry the expected change mix on sf0.001") {
    val out = ChangeFeed.u20ChangeFeedQuery(spark, "/root/testdata/sf0.001").collect()
    val types = out.map(r => (r.getAs[Int]("range_lo"), r.getAs[Long]("_commit_version"),
      r.getAs[String]("_change_type")) -> r.getAs[Long]("n_rows")).toMap
    // v1 is the base load: inserts only, visible only from range_lo=0
    assert(types.contains((0, 1L, "insert")) && !types.exists(_._1 == (1, 1L, "insert")))
    // v2 carries updates AND deletes; v3 carries reinserts (inserts) and updates
    assert(types.contains((0, 2L, "delete")) && types.contains((0, 2L, "update_preimage")))
    assert(types((0, 2L, "update_preimage")) == types((0, 2L, "update_postimage")))
    assert(types.contains((0, 3L, "insert")), "delete-then-reinsert must classify as insert")
    // both ranges agree on versions > 1 (pre-images read below the range)
    types.collect { case ((0, v, t), n) if v > 1 => assert(types((1, v, t)) == n, s"$v/$t") }
  }
}
