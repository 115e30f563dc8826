package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** §2.5 failure recovery: kill a streaming query mid-input, restart it
  * from the SAME checkpoint directory, and assert the combined output is
  * exactly the uninterrupted run's — the property users deploy
  * Structured Streaming for, and the one thing AvailableNow-in-one-
  * process runs never demonstrate.
  *
  * Mechanics: the input is a file-source stream; run 1 sees only the
  * first files, processes them to completion (AvailableNow) and stops —
  * equivalent to a crash after the last durable commit. More files then
  * land, and run 2 starts from the same checkpoint: the file source's
  * checkpointed manifest must skip everything run 1 committed (any
  * reprocessing shows up as duplicate output and fails the equality),
  * and the stateful operator's checkpointed state (fMGWS sessions /
  * merge chain) must carry across the restart.
  */
class CheckpointRecoverySpec extends SparkSpec {
  import spark.implicits._
  import EventStreams.{Event, Session}

  private val Base = 86400000L
  private def ts(minutes: Long): Timestamp = new Timestamp(Base + minutes * 60000L)

  private def tmp(tag: String): String =
    graft.Scratch.dir(s"ckpt_$tag")

  /** Write one parquet file of events into `dir` (one file = one
    * micro-batch under maxFilesPerTrigger=1). */
  private def addFile(dir: String, events: Seq[Event]): Unit =
    events.toDF().coalesce(1).write.mode("append").parquet(dir)

  private def eventStream(dir: String): DataFrame =
    spark.readStream.schema(Seq.empty[Event].toDF().schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  // three users; sessions separated by > gap(30m). Each half carries one
  // much-later event that drives the watermark (max ts − 1h) past the
  // earlier sessions' end + gap, so those sessions are DECIDED (timeout-
  // flushed) within that half — identically with or without a restart.
  // u3's minute-200 session is decided only by second-half data, so it
  // must survive the restart inside the checkpointed fMGWS state; u2's
  // minute-600 event stays forever undecided (watermark never reaches
  // 630) and is excluded from every run alike.
  private val firstHalf = Seq(
    Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 1, "click", 2.0),
    Event(3, ts(10), 2, "view", 4.0), Event(4, ts(200), 3, "click", 8.0))
  private val secondHalf = Seq(
    Event(5, ts(400), 3, "view", 16.0), Event(6, ts(405), 1, "click", 32.0),
    Event(7, ts(600), 2, "view", 64.0))

  /** Sessionize `inDir` into the PARQUET file sink at `outDir` — the
    * fault-tolerant sink (memory sinks refuse checkpoint recovery): its
    * _spark_metadata commit log is what makes output exactly-once across
    * a restart. */
  private def runSessionize(inDir: String, ckpt: String, outDir: String): Unit = {
    val q = EventStreams.sessionize(eventStream(inDir).as[Event]).toDF()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  private def readSessions(outDir: String): Seq[(Long, Long, Long, Int, Double)] =
    spark.read.parquet(outDir).as[Session].collect().toSeq
      .map(s => (s.user_id, s.session_start.getTime - Base,
                 s.session_end.getTime - Base, s.n_events, s.sum_value))

  test("s2 recovery: sessionization restarted from checkpoint equals the uninterrupted run") {
    // uninterrupted reference over the full input
    val refDir = tmp("s2_ref_in"); val refOut = tmp("s2_ref_out")
    addFile(refDir, firstHalf); addFile(refDir, secondHalf)
    runSessionize(refDir, tmp("s2_ref_ck"), refOut)
    val reference = readSessions(refOut)
    assert(reference.nonEmpty)
    assert(reference.size === reference.toSet.size)

    // interrupted: run 1 sees only the first file, then "crashes" (stops
    // after its final commit); the second file lands; run 2 resumes from
    // the SAME checkpoint + sink and must emit exactly the remaining
    // sessions — a reprocessed file would show up as duplicate rows
    val inDir = tmp("s2_in"); val ckpt = tmp("s2_ck"); val outDir = tmp("s2_out")
    addFile(inDir, firstHalf)
    runSessionize(inDir, ckpt, outDir)
    val out1 = readSessions(outDir)
    assert(out1.nonEmpty, "run 1 must have emitted decided sessions before the restart")
    addFile(inDir, secondHalf)
    runSessionize(inDir, ckpt, outDir)
    val combined = readSessions(outDir)
    assert(combined.size > out1.size,
      "run 2 must emit the sessions decided after the restart")
    assert(combined.size === combined.toSet.size,
      "restart must not re-emit sessions already committed by run 1")
    assert(combined.toSet === reference.toSet)
  }

  test("s5 recovery: foreachBatch merge chain restarted from checkpoint equals the uninterrupted run") {
    import spark.implicits._
    val base = Seq((1L, 100.0), (2L, 200.0), (3L, 300.0), (4L, 400.0))
      .toDF("o_orderkey", "o_totalprice")

    def initState(stateRoot: String): Unit =
      base.withColumn("__v", lit(-1L)).withColumn("__e", lit(-1L))
        .write.mode("overwrite").parquet(s"$stateRoot/state_0")

    def updates(df: DataFrame): DataFrame = df.select(
      ((col("event_id") % 4) + 1).as("o_orderkey"),
      (col("value") * 100).as("o_totalprice"),
      unix_millis(col("ts")).as("__v"),
      col("event_id").as("__e"))

    def runMerge(inDir: String, ckpt: String, stateRoot: String): Unit = {
      val q = updates(eventStream(inDir)).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          EventStreams.mergeUpsertBatch(spark, stateRoot, base, batch)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    def finalState(stateRoot: String): Set[(Long, Double, Long, Long)] =
      spark.read.parquet(
          s"$stateRoot/state_${EventStreams.latestStateVersion(stateRoot)}")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
        .toSet

    // uninterrupted reference
    val refIn = tmp("s5_ref_in"); val refState = tmp("s5_ref_st")
    initState(refState)
    addFile(refIn, firstHalf); addFile(refIn, secondHalf)
    runMerge(refIn, tmp("s5_ref_ck"), refState)
    val reference = finalState(refState)

    // interrupted: run 1 merges the first file's updates and stops; run 2
    // resumes from the same checkpoint AND the same on-disk state chain
    // (latestStateVersion reads the directory, not process memory)
    val inDir = tmp("s5_in"); val ckpt = tmp("s5_ck"); val stateRoot = tmp("s5_st")
    initState(stateRoot)
    addFile(inDir, firstHalf)
    runMerge(inDir, ckpt, stateRoot)
    val verAfterRun1 = EventStreams.latestStateVersion(stateRoot)
    assert(verAfterRun1 >= 1, "run 1 must have committed at least one merged state version")
    addFile(inDir, secondHalf)
    runMerge(inDir, ckpt, stateRoot)
    assert(EventStreams.latestStateVersion(stateRoot) > verAfterRun1,
      "run 2 must extend the state chain, not restart it")
    assert(finalState(stateRoot) === reference)
  }

  test("s5 merge is idempotent: replaying an already-merged micro-batch leaves state content unchanged") {
    import spark.implicits._
    val base = Seq((1L, 100.0), (2L, 200.0)).toDF("o_orderkey", "o_totalprice")
    val stateRoot = tmp("s5_idem")
    base.withColumn("__v", lit(-1L)).withColumn("__e", lit(-1L))
      .write.mode("overwrite").parquet(s"$stateRoot/state_0")
    val batch = Seq((1L, 555.0, 10L, 7L), (2L, 666.0, 11L, 8L))
      .toDF("o_orderkey", "o_totalprice", "__v", "__e")
    EventStreams.mergeUpsertBatch(spark, stateRoot, base, batch)
    val once = spark.read.parquet(s"$stateRoot/state_1")
      .collect().map(_.toSeq).toSet
    // crash-replay of the SAME batch (checkpoint commit lost): content
    // must not change — this is what makes restart-replay exactly-once
    EventStreams.mergeUpsertBatch(spark, stateRoot, base, batch)
    val twice = spark.read.parquet(s"$stateRoot/state_2")
      .collect().map(_.toSeq).toSet
    assert(once === twice)
  }

  test("s5 torn state write: a version without _SUCCESS is skipped and overwritten on replay") {
    import spark.implicits._
    val base = Seq((1L, 100.0), (2L, 200.0)).toDF("o_orderkey", "o_totalprice")
    val stateRoot = tmp("s5_torn")
    base.withColumn("__v", lit(-1L)).withColumn("__e", lit(-1L))
      .write.mode("overwrite").parquet(s"$stateRoot/state_0")
    val batch = Seq((1L, 555.0, 10L, 7L)).toDF("o_orderkey", "o_totalprice", "__v", "__e")
    EventStreams.mergeUpsertBatch(spark, stateRoot, base, batch)
    val committed = spark.read.parquet(s"$stateRoot/state_1")
      .collect().map(_.toSeq).toSet
    // simulate a crash DURING the state_2 write: directory exists with a
    // partial (here: empty-marker-less, garbage-content) payload
    val torn = java.nio.file.Paths.get(stateRoot, "state_2")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.write(torn.resolve("part-00000.parquet"),
      "not parquet".getBytes("UTF-8"))
    // the cursor must NOT count the torn version (r9 ADVICE: counting it
    // would hand the restarted chain a torn file and silently drop rows)
    assert(EventStreams.latestStateVersion(stateRoot) == 1)
    // the replayed micro-batch re-merges onto state_1 and OVERWRITES the
    // torn directory; the recovered chain carries the committed content
    val batch2 = Seq((2L, 666.0, 11L, 8L)).toDF("o_orderkey", "o_totalprice", "__v", "__e")
    EventStreams.mergeUpsertBatch(spark, stateRoot, base, batch2)
    assert(EventStreams.latestStateVersion(stateRoot) == 2)
    val recovered = spark.read.parquet(s"$stateRoot/state_2")
      .collect().map(_.toSeq).toSet
    assert(recovered.exists(r => r.head == 1L && r(1) == 555.0), "state_1 rows survive")
    assert(recovered.exists(r => r.head == 2L && r(1) == 666.0), "replayed batch merged")
    assert(committed.size == 2 && recovered.size == 2)
  }
}
