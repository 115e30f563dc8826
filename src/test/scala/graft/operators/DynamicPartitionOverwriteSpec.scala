package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DynamicPartitionOverwriteSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents = Seq(
    (1L, 10L, "click", "2024-01-10 01:00:00", 1.0),
    (2L, 11L, "view",  "2024-01-10 02:00:00", 2.0),
    (3L, 12L, "click", "2024-01-11 01:00:00", 3.0),
    (4L, 13L, "view",  "2024-01-11 02:00:00", 4.0),
    (5L, 14L, "buy",   "2024-01-11 03:00:00", 5.0),
    (6L, 15L, "click", "2024-01-12 01:00:00", 6.0)
  ).toDF("event_id", "user_id", "event_type", "ts_s", "value")
    .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")

  private def partFiles(dir: String, day: String): Map[String, Long] = {
    val d = new java.io.File(s"$dir/event_date=$day")
    if (!d.exists()) Map.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length()).toMap
  }

  test("dynamic overwrite replaces only the patch partition; others stay byte-identical") {
    val ev = mkEvents
    val tmp = graft.Scratch.dir("dyn_spec")
    try {
      ev.withColumn("event_date", to_date($"ts"))
        .write.partitionBy("event_date").mode("overwrite").parquet(tmp)
      val before10 = partFiles(tmp, "2024-01-10")
      val before12 = partFiles(tmp, "2024-01-12")
      assert(before10.nonEmpty && before12.nonEmpty)

      DynamicPartitionOverwrite.patchFrame(ev)
        .withColumn("event_date", to_date($"ts"))
        .write.partitionBy("event_date")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(tmp)

      // untouched partitions: identical file names AND sizes
      assert(partFiles(tmp, "2024-01-10") == before10)
      assert(partFiles(tmp, "2024-01-12") == before12)

      // patch partition REPLACED (not appended): 3 rows -> 2, no 'view',
      // values corrected
      val day = spark.read.parquet(tmp)
        .filter($"event_date" === lit("2024-01-11").cast("date"))
      assert(day.count() == 2)
      assert(day.filter($"event_type" === "view").count() == 0)
      val vals = day.select($"value").as[Double].collect().sorted.toSeq
      assert(vals == Seq(13.0, 15.0))
    } finally graft.Scratch.delete(tmp)
  }

  test("static overwrite would have destroyed the other partitions (the failure u17 exists to avoid)") {
    val ev = mkEvents
    val tmp = graft.Scratch.dir("static_spec")
    try {
      ev.withColumn("event_date", to_date($"ts"))
        .write.partitionBy("event_date").mode("overwrite").parquet(tmp)
      DynamicPartitionOverwrite.patchFrame(ev)
        .withColumn("event_date", to_date($"ts"))
        .write.partitionBy("event_date")
        .mode("overwrite").parquet(tmp) // default = static: deletes ALL partitions
      assert(partFiles(tmp, "2024-01-10").isEmpty)
      assert(partFiles(tmp, "2024-01-12").isEmpty)
      assert(spark.read.parquet(tmp).count() == 2) // only the patch survived
    } finally graft.Scratch.delete(tmp)
  }
}
