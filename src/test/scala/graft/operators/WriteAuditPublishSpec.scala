package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WriteAuditPublishSpec extends SparkSpec {
  import spark.implicits._

  test("a passing audit publishes atomically; the serving dir holds the data") {
    val root = graft.Scratch.dir("wap_spec")
    val src = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
      .toDF("o_orderkey", "o_totalprice")
    val path = WriteAuditPublish.publish(spark, src, root, 1)
    assert(path.endsWith("/v1"))
    assert(!new java.io.File(s"$root/_staging_v1").exists(),
      "staging must be gone after publish (renamed, not copied)")
    assert(spark.read.parquet(path).count() === 3L)
    graft.Scratch.delete(root)
  }

  test("a failing audit leaves serving untouched and staging behind") {
    val root = graft.Scratch.dir("wap_spec2")
    val dup = Seq((1L, 10.0), (1L, 11.0)).toDF("o_orderkey", "o_totalprice")
    val e = intercept[IllegalArgumentException] {
      WriteAuditPublish.publish(spark, dup, root, 2)
    }
    assert(e.getMessage.contains("duplicate keys"))
    assert(!new java.io.File(s"$root/v2").exists(),
      "serving must not exist after a failed audit")
    assert(new java.io.File(s"$root/_staging_v2").exists(),
      "staging must be left behind for debugging")
    graft.Scratch.delete(root)
  }

  test("null keys fail the audit") {
    val root = graft.Scratch.dir("wap_spec3")
    val bad = Seq((Some(1L), 10.0), (None, 11.0))
      .toDF("o_orderkey", "o_totalprice")
    val e = intercept[IllegalArgumentException] {
      WriteAuditPublish.publish(spark, bad, root, 3)
    }
    assert(e.getMessage.contains("null keys"))
    graft.Scratch.delete(root)
  }
}
