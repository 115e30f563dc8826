package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** s11: the maintained trending view must equal the batch aggregation
  * however the engine splits micro-batches. */
class TrendingSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents(n: Int): DataFrame =
    spark.range(n.toLong).select(
      ($"id" + 1).as("event_id"),
      to_timestamp(lit("2025-03-01 00:00:00")).plus(
        expr("make_interval(0, 0, 0, 0, 0, 0, id * 97)")).as("ts"),
      ($"id" % 7).as("user_id"),
      lit("view").as("event_type"),
      lit(1.0).as("value"),
      concat(lit("{\"k\": "), ($"id" % 5).cast("string"), lit("}")).as("props"))

  test("multi-batch streamed view equals the single-shot batch aggregation") {
    val events = mkEvents(600) // ~16 hours of events at 97s spacing
    val dir = graft.Scratch.dir("trend_spec")
    // three time-ordered arrival files (files arrive in event-time order,
    // the production tail-a-directory shape — no artificial late data)
    events.filter($"event_id" <= 200).coalesce(1).write.parquet(s"$dir/f1")
    events.filter($"event_id" > 200 && $"event_id" <= 400).coalesce(1)
      .write.parquet(s"$dir/f2")
    events.filter($"event_id" > 400).coalesce(1).write.parquet(s"$dir/f3")
    val staged = graft.Scratch.dir("trend_in")
    var i = 0
    for (f <- Seq("f1", "f2", "f3")) {
      val part = new java.io.File(s"$dir/$f").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(staged, f"$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      // the file source orders batches by MODIFICATION TIME, and copy
      // does not preserve it — without explicit ascending stamps the
      // "arrival" order is arbitrary, the watermark can jump to the
      // newest file's hours first, and earlier files' windows are then
      // (correctly!) dropped as late data. Stamp arrival order = event
      // order, the production tail-a-directory contract.
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
      i += 1
    }
    val schema = spark.read.parquet(staged).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
    val counts = EventStreams.trendingCounts(stream)
    // drive the maintained-view merge exactly as s11 does
    val stateRoot = graft.Scratch.dir("trend_state")
    // AtomicInteger for the same reason as s11 itself: foreachBatch runs
    // on the stream-execution thread, the final read on this thread
    val ver = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        counts.schema)
      .write.mode("overwrite").parquet(s"$stateRoot/state_0")
    val q = counts.writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val v = ver.get()
        spark.read.parquet(s"$stateRoot/state_$v")
          .join(batch, Seq("window_start", "item"), "left_anti")
          .unionByName(batch)
          .write.mode("overwrite").parquet(s"$stateRoot/state_${v + 1}")
        ver.set(v + 1)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(ver.get() >= 3, s"expected >=3 micro-batches, got ${ver.get()}")
    val view = spark.read.parquet(s"$stateRoot/state_${ver.get()}")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batchRef = events
      .groupBy(date_trunc("hour", $"ts").as("window_start"),
        get_json_object($"props", "$.k").cast("long").as("item"))
      .agg(count(lit(1)).as("n_events"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(view === batchRef,
      "maintained view diverged from the batch aggregation")
    Seq(dir, staged, stateRoot).foreach(
      graft.Scratch.delete)
  }
}
