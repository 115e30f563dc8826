package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  test("evolved read reconciles vintages: old files surface NULL, new carry data") {
    val tmp = graft.Scratch.dir("evolve_spec")
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
      .write.parquet(s"$tmp/vintage=1")
    Seq((3L, 30.0, "a"), (4L, 40.0, "b")).toDF("k", "v", "tag")
      .write.parquet(s"$tmp/vintage=2")
    val evolved = spark.read.option("mergeSchema", "true").parquet(tmp)
    assert(evolved.columns.toSet === Set("k", "v", "tag", "vintage"))
    val rows = evolved.select($"k", $"tag").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows(1L).isEmpty && rows(2L).isEmpty,
      "pre-evolution rows must read the added column as NULL")
    assert(rows(3L).contains("a") && rows(4L).contains("b"))
    // pushdown on the ORIGINAL columns still works across vintages
    assert(evolved.filter($"v" > 25.0).count() === 2L)
    graft.Scratch.delete(tmp)
  }
}
