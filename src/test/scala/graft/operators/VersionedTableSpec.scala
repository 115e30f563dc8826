package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VersionedTableSpec extends SparkSpec {

  test("time travel: insert / update / delete / re-insert resolve per as-of version") {
    import spark.implicits._
    val root = graft.Scratch.dir("vt_spec")
    def rows(t: (Long, Double, String, Boolean)*) =
      t.toDF("k", "price", "status", "deleted")
    VersionedTable.commit(rows((1L, 10.0, "BASE", false), (2L, 20.0, "BASE", false)), root, 1)
    VersionedTable.commit(rows((2L, 25.0, "U2", false), (1L, 0.0, null, true),
                               (3L, 30.0, "U2", false)), root, 2)
    VersionedTable.commit(rows((1L, 11.0, "U3", false)), root, 3)
    def asOf(v: Int) = VersionedTable.readAsOf(spark, root, v)
      .select($"k", $"price", $"status").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(asOf(1) == Set((1L, 10.0, "BASE"), (2L, 20.0, "BASE")))
    // v2: key 1 deleted, key 2 updated, key 3 inserted
    assert(asOf(2) == Set((2L, 25.0, "U2"), (3L, 30.0, "U2")))
    // v3: key 1 re-inserted after its tombstone
    assert(asOf(3) == Set((1L, 11.0, "U3"), (2L, 25.0, "U2"), (3L, 30.0, "U2")))
    graft.Scratch.delete(root)
  }

  test("read-as-of prunes history partitions at file-listing time") {
    import spark.implicits._
    val root = graft.Scratch.dir("vt_prune")
    (1 to 3).foreach { v =>
      VersionedTable.commit(
        Seq((v.toLong, v * 1.0, s"V$v", false)).toDF("k", "price", "status", "deleted"),
        root, v)
    }
    val pruned = spark.read.parquet(root).filter(col("version") <= 1)
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .get
    assert(scan.partitionFilters.nonEmpty,
      "as-of bound must bind as a partition filter, not a data filter")
    pruned.count()
    val scanned = scan.metrics("numFiles").value
    val all = spark.read.parquet(root).inputFiles.length
    assert(scanned < all,
      s"as-of read must skip newer commit files ($scanned vs $all)")
    graft.Scratch.delete(root)
  }
}
