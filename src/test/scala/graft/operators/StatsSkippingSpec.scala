package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StatsSkippingSpec extends SparkSpec {

  test("manifest pruning: drops files outside the range, keeps boundary files, result ≡ full scan") {
    import spark.implicits._
    val tmp = graft.Scratch.dir("skipspec")
    try {
      // keys 0..799 range-clustered into 8 files → each file ~a 100-key band
      (0 until 800).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartitionByRange(8, $"k").sortWithinPartitions($"k")
        .write.mode("overwrite").parquet(tmp)
      val manifest = StatsSkipping.buildManifest(spark, tmp, "k")
      val nFiles = manifest.count()
      assert(nFiles >= 4, s"expected a multi-file layout, got $nFiles")

      // a narrow band must plan over a strict subset of files
      val kept = StatsSkipping.filesForRange(manifest, lit(150L), lit(250L))
      assert(kept.nonEmpty && kept.size < nFiles,
        s"pruning kept ${kept.size} of $nFiles files")

      val pruned = StatsSkipping
        .skippingScan(spark, tmp, manifest, "k", lit(150L), lit(250L))
        .select("k").as[Long].collect().sorted
      assert(pruned.toSeq == (150L until 250L).toSeq) // residual filter exact

      // empty range below all stats → zero files, zero rows, no error
      val none = StatsSkipping
        .skippingScan(spark, tmp, manifest, "k", lit(-100L), lit(0L))
      assert(none.count() == 0L)
    } finally graft.Scratch.delete(tmp)
  }

  test("skippingScan ≡ raw filter on the orders layout (u12 shape)") {
    val dir = "/root/testdata/sf0.001"
    val tmp = graft.Scratch.dir("skipspec2")
    try {
      ScaleOps.writeRangeLayout(graft.Tables.orders(spark, dir), "o_orderdate", 8, tmp)
      val manifest = StatsSkipping.buildManifest(spark, tmp, "o_orderdate")
      val lo = lit("1995-01-01").cast("timestamp")
      val hi = lit("1995-07-01").cast("timestamp")
      val viaManifest = StatsSkipping
        .skippingScan(spark, tmp, manifest, "o_orderdate", lo, hi).count()
      val raw = graft.Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi).count()
      assert(viaManifest == raw && raw > 0)
    } finally graft.Scratch.delete(tmp)
  }
}
