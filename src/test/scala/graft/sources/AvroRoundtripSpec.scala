package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AvroRoundtripSpec extends SparkSpec {
  import spark.implicits._

  test("src6: avro container roundtrip preserves every row, null, and double bit") {
    val df = Seq[(java.lang.Long, java.lang.Long, String, java.lang.Double, String)](
      (1L, 10L, "O", 123.45, "1-URGENT"),
      (2L, null, "F", 0.1 + 0.2, null), // non-2dp double + nulls
      (3L, 30L, "P", -9.99, "5-LOW"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .repartition(2)
    val tmp = graft.Scratch.dir("avro_spec")
    try {
      AvroRoundtrip.writeAvro(df, tmp)
      assert(new java.io.File(tmp).listFiles().count(_.getName.endsWith(".avro")) == 2,
        "one container per partition")
      val back = AvroRoundtrip.readAvro(spark, tmp, df.schema)
      val a = df.collect().map(_.toSeq).toSet
      val b = back.collect().map(_.toSeq).toSet
      assert(a == b, s"roundtrip mismatch:\n$a\nvs\n$b")
    } finally graft.Scratch.delete(tmp)
  }

  test("src6 query: summary over the roundtrip equals the parquet-direct summary") {
    val direct = graft.Tables.orders(spark, "/root/testdata/sf0.001")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
           countDistinct($"o_custkey").as("n_custs"),
           round(sum($"o_totalprice"), 2).as("sum_price"),
           min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"))
      .orderBy($"o_orderstatus").collect().toSeq
    val rt = AvroRoundtrip.query(spark, "/root/testdata/sf0.001").collect().toSeq
    assert(rt == direct, s"avro roundtrip summary drifted:\n$rt\nvs\n$direct")
  }
}
