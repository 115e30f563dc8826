package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private lazy val (layout, manifest) = {
    val tmp = graft.Scratch.dir("bloom_spec")
    BloomIndex.writeClustered(graft.Tables.orders(spark, sf), "o_orderdate", 8, tmp)
    (tmp, BloomIndex.buildManifest(spark, tmp, "o_custkey").localCheckpoint(true))
  }

  test("lookup result equals the raw-table lookup (no false negatives)") {
    val keys = Seq(1L, 7L, 42L)
    val viaBloom = BloomIndex.lookupScan(spark, layout, manifest, "o_custkey", keys)
      .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val raw = spark.read.parquet(layout)
      .filter($"o_custkey".isin(keys: _*))
      .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaBloom === raw)
  }

  test("an absent key prunes every file (fpp ~1e-9 at this occupancy)") {
    assert(BloomIndex.filesForKey(manifest, -987654321L).isEmpty)
    assert(BloomIndex.lookupScan(spark, layout, manifest, "o_custkey",
      Seq(-987654321L)).count() === 0L)
  }

  test("a present key reads only the files that can hold it") {
    val all = manifest.count()
    val hit = BloomIndex.filesForKey(manifest, 42L)
    assert(hit.nonEmpty && hit.length <= all)
    // the files actually holding the key are all selected
    val holding = spark.read.parquet(layout)
      .filter($"o_custkey" === 42L)
      .select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(holding.subsetOf(hit.toSet), "bloom dropped a file holding the key")
  }
}
