package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SnapshotExpirySpec extends SparkSpec {
  import spark.implicits._

  private def commitRows(root: String, v: Int, rows: (Long, Double, String, Boolean)*): Unit =
    VersionedTable.commit(rows.toDF("k", "price", "status", "deleted"), root, v)

  private def state(root: String, v: Int): Set[(Long, Double)] =
    VersionedTable.readAsOf(spark, root, v)
      .select($"k", $"price").as[(Long, Double)].collect().toSet

  test("u22: expiry preserves every retained snapshot, incl. tombstoned keys (no resurrection)") {
    val root = graft.Scratch.dir("u22_spec")
    try {
      commitRows(root, 1, (1L, 1.0, "A", false), (2L, 2.0, "A", false), (3L, 3.0, "A", false))
      commitRows(root, 2, (2L, 0.0, null, true),  // key 2 dies at v2
                          (1L, 1.5, "B", false))
      commitRows(root, 3, (3L, 3.5, "C", false))
      val want2 = state(root, 2); val want3 = state(root, 3)
      assert(want2 == Set((1L, 1.5), (3L, 3.0)))
      SnapshotExpiry.expire(spark, root, keep = 2)
      // retained snapshots identical — key 2 must STAY dead after its
      // tombstone's original version was squashed
      assert(state(root, 2) == want2, s"v2 changed: ${state(root, 2)}")
      assert(state(root, 3) == want3, s"v3 changed: ${state(root, 3)}")
      // below the floor: loud failure
      val e = intercept[IllegalArgumentException](VersionedTable.readAsOf(spark, root, 1))
      assert(e.getMessage.contains("expired"))
      // re-running the expiry is idempotent
      SnapshotExpiry.expire(spark, root, keep = 2)
      assert(state(root, 2) == want2 && state(root, 3) == want3)
    } finally graft.Scratch.delete(root)
  }

  test("u22: expiry after further commits — floor rises, later deltas untouched") {
    val root = graft.Scratch.dir("u22_spec2")
    try {
      commitRows(root, 1, (1L, 1.0, "A", false))
      commitRows(root, 2, (1L, 2.0, "A", false))
      SnapshotExpiry.expire(spark, root, 2)
      commitRows(root, 3, (2L, 9.0, "N", false))
      assert(state(root, 3) == Set((1L, 2.0), (2L, 9.0)))
      SnapshotExpiry.expire(spark, root, 3)
      assert(VersionedTable.expiryFloor(root) == 3)
      assert(state(root, 3) == Set((1L, 2.0), (2L, 9.0)))
    } finally graft.Scratch.delete(root)
  }

  test("u22 query: gates pass and the v2/v3 aggregates survive expiry on sf0.001") {
    val out = SnapshotExpiry.u22ExpiryQuery(spark, "/root/testdata/sf0.001").collect()
    val versions = out.map(_.getAs[Long]("as_of_version")).toSet
    assert(versions == Set(2L, 3L))
    assert(out.forall(_.getAs[Long]("n_keys") > 0))
  }
}
