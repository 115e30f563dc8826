package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.Materialize

/** Sustained-rate streaming benchmark (SURVEY §7 "streaming rate/latency,
  * later rounds"): drives the S1 windowed-aggregation and S2
  * sessionization pipelines from the `rate` source at a fixed rows/sec,
  * then reports the engine's processed-rows/sec and state-store size per
  * micro-batch from StreamingQueryProgress.
  *
  * What it demonstrates beyond the s1/s2 correctness queries (which run
  * tiny fixtures through Trigger.AvailableNow): sustained throughput and
  * BOUNDED STATE — windowed-agg state is capped by windows-in-play ×
  * event_types, session state by distinct users, both enforced by the
  * watermark. The run fails loudly if state keeps growing batch over
  * batch.
  *
  * Usage: graft.tools.StreamBench [rowsPerSec] [seconds] [users]
  * (defaults 200000 / 20 / 1000). Prints one JSON line per pipeline.
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val rowsPerSec = args.headOption.map(_.toInt).getOrElse(200000)
    val seconds = args.lift(1).map(_.toInt).getOrElse(20)
    val users = args.lift(2).map(_.toInt).getOrElse(1000)
    val spark = graft.GraftSession()
    val cpus = spark.sparkContext.defaultParallelism
    import spark.implicits._

    /** rate-source rows shaped like the events table. */
    def events() = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSec)
      .option("numPartitions", cpus)
      .load()
      .select(col("value").as("event_id"),
        col("timestamp").as("ts"),
        (col("value") % users).as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("buy")),
          (col("value") % 3 + 1).cast("int")).as("event_type"),
        (col("value") % 97).cast("double").as("value"))

    def run(name: String, out: org.apache.spark.sql.DataFrame, mode: String): Unit = {
      val q = out.writeStream.format("memory")
        .queryName(s"bench_$name").outputMode(mode)
        .option("checkpointLocation", graft.Scratch.dir(s"bench_${name}_ck"))
        .trigger(Trigger.ProcessingTime("2 seconds")).start()
      Thread.sleep(seconds * 1000L)
      val progress = q.recentProgress.toSeq
      q.stop(); q.awaitTermination()
      // skip the warmup batch; measure steady state
      val measured = progress.drop(2).filter(_.numInputRows > 0)
      val rps = measured.map(_.processedRowsPerSecond).sorted
      val medianRps = if (rps.isEmpty) 0.0 else rps(rps.size / 2)
      val stateRows = measured.flatMap(_.stateOperators.map(_.numRowsTotal))
      val stateBytes = measured.flatMap(_.stateOperators.map(_.memoryUsedBytes))
      // bounded state: the last batches must not keep growing
      val tail = stateRows.takeRight(3)
      val bounded = tail.size < 3 || tail.last <= tail.head * 1.10 + 10
      println(s"""{"stream":"$name","rows_per_sec_in":$rowsPerSec,""" +
        s""""median_processed_rps":${medianRps.round},""" +
        s""""batches":${measured.size},""" +
        s""""state_rows_last":${stateRows.lastOption.getOrElse(0L)},""" +
        s""""state_mb_last":${stateBytes.lastOption.map(_ / 1024 / 1024.0).getOrElse(0.0)},""" +
        s""""state_bounded":$bounded}""")
      require(bounded, s"$name state grew across final batches: $tail")
    }

    run("s1_windowed", graft.streaming.EventStreams.hourlyWindowed(events()), "complete")
    run("s2_sessions",
      graft.streaming.EventStreams.sessionize(
        events().as[graft.streaming.EventStreams.Event]).toDF(), "append")

    // S7-shaped ANN serving throughput: synthetic query vectors at the
    // rate source's pace probe a STATIC in-memory IVF index (corpus from
    // args(3), default sf0.1 = 20k×64 vectors, nlist=16/nprobe=3); each
    // micro-batch resolves its queries' exact-cosine top-1 with
    // batch-local semantics in foreachBatch (serving emits per-batch
    // results — no engine state, nothing to bound). Reported rps =
    // query vectors served per second end-to-end.
    {
      import graft.sim.IvfAnn
      import graft.functions.{GraftFunctions, VectorOps}
      val dir = args.lift(3).getOrElse("/root/testdata/sf0.1")
      val nlist = 16; val nprobe = 3
      val corpus = graft.Tables.embeddings(spark, dir)
      val centroids = IvfAnn.fitCentroids(corpus, "embedding", nlist)
      val posted = Materialize(corpus  // the static index, materialized once
        .select(col("vec_id").as("neighbor_id"),
                VectorOps.toDoubleArray(col("embedding")).as("nvec"))
        .withColumn("cell", IvfAnn.cellOf(col("nvec"), centroids)))
      val dim = 64
      val qvec = array((0 until dim).map(i =>
        pmod(xxhash64(col("value"), lit(i)), lit(1000)).cast("double") / 500.0 - 1.0): _*)
      val queries = spark.readStream.format("rate")
        .option("rowsPerSecond", math.max(rowsPerSec / 100, 100))
        .option("numPartitions", cpus).load()
        .select(col("value").as("query_id"), qvec.as("qvec"))
        .withColumn("cell", explode(IvfAnn.probeCellsCol(
          IvfAnn.distances(col("qvec"), centroids), nlist, nprobe)))
      val served = new java.util.concurrent.atomic.AtomicLong()
      val t0 = System.nanoTime()
      val q = queries.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // per-batch exact top-1 as a map-side-combined aggregate (the
          // s7 lexicographic-struct-max), NOT a window: the candidate
          // fan-out (queries × nprobe/nlist of the corpus) collapses to
          // one row per query per partition before it shuffles
          val n = batch.join(posted, Seq("cell"))
            .withColumn("cos", GraftFunctions.cosine_sim(col("qvec"), col("nvec")))
            .groupBy(col("query_id"))
            .agg(max(struct(col("cos").as("c"),
                            (-col("neighbor_id")).as("negid"))).as("nn"))
            .count()
          served.addAndGet(n); ()
        }
        .option("checkpointLocation", graft.Scratch.dir("bench_s7_ck"))
        .trigger(Trigger.ProcessingTime("2 seconds")).start()
      Thread.sleep(seconds * 1000L)
      val progress = q.recentProgress.toSeq
      q.stop(); q.awaitTermination()
      val elapsed = (System.nanoTime() - t0) / 1e9
      val measured = progress.drop(2).filter(_.numInputRows > 0)
      val rps = measured.map(_.processedRowsPerSecond).sorted
      // steady-state median when enough batches finished; otherwise the
      // honest end-to-end rate (total served / wall-clock incl. ramp-up)
      val qps = if (rps.size >= 3) rps(rps.size / 2) else served.get() / elapsed
      println(s"""{"stream":"s7_ann_serving","corpus_rows":${corpus.count()},""" +
        s""""queries_per_sec_in":${math.max(rowsPerSec / 100, 100)},""" +
        s""""served_qps":${qps.round},""" +
        s""""batches":${measured.size},"served_total":${served.get()}}""")
      require(served.get() > 0, "serving pipeline emitted no results")
    }

    // shared synthetic doc text for the s8/s9 rate shapes: ~40 words from
    // a small vocabulary, deterministic in the rate value
    val vocabArr = array(Seq("the", "a", "of", "and", "to", "in", "is",
      "that", "it", "for", "data", "model", "train", "corpus", "quality",
      "spark", "engine", "query", "stream", "dedup", "filter", "token",
      "vector", "index").map(lit(_)): _*)
    def synthText(nWords: Int) = concat_ws(" ",
      transform(sequence(lit(0), lit(nWords - 1)),
        i => element_at(vocabArr,
          (pmod(xxhash64(col("value"), i), lit(24)) + 1).cast("int"))))

    // S9-shaped stateless inference: docs through marginMicrosNarrow —
    // append mode, NO state operator at all (the unbounded-throughput
    // scoring shape); reported rps is the engine's processed DOC rate
    // (each doc is ~20 tokens hashed/bucketed/folded per row; the rate
    // is docs/s, not token-ops/s)
    {
      val dir = args.lift(3).getOrElse("/root/testdata/sf0.1")
      graft.text.QualityClassifier.ensureFitted(spark, dir)
      val (w, bias) = graft.text.QualityClassifier.loadWeights(spark, dir)
      val docRate = math.max(rowsPerSec / 10, 1000)
      val docs = spark.readStream.format("rate")
        .option("rowsPerSecond", docRate)
        .option("numPartitions", cpus).load()
        .select(col("value").as("doc_id"), synthText(20).as("text"))
      run("s9_scoring", graft.text.QualityClassifier.marginMicrosNarrow(docs, w, bias),
        "append")
    }

    // S8-shaped online dedup serving: incoming docs (rate/10 — shingling
    // is the heavy step) probe the persisted p35 band index and
    // exact-verify Jaccard per micro-batch (stream-static equi-joins +
    // per-batch decisions in foreachBatch, the s7 serving pattern — no
    // engine state to bound; batch work ∝ batch × bucket occupancy)
    {
      import graft.dedup.{IncrementalDedup, MinHashDedup}
      import graft.functions.HashFunctions
      val dir = args.lift(3).getOrElse("/root/testdata/sf0.1")
      IncrementalDedup.ensureIndexed(spark, dir)
      val root = graft.ml.ModelOracles.modelRoot(dir)
      val idx = Materialize(spark.read.parquet(s"$root/p35_index")
        .select(col("doc_id").as("rid"), col("sh").as("sh_r"), col("md5").as("md5_r")))
      val idxBands = Materialize(spark.read.parquet(s"$root/p35_bands"))
      // incoming docs REUSE real corpus texts (a 256-row static side
      // joined on value%256, lightly suffixed so md5 differs) — synthetic
      // vocab text shares no shingles with the index and would measure an
      // always-empty probe; real texts exercise band hits + Jaccard
      // verification at realistic occupancy
      val sample = Materialize(graft.Tables.documents(spark, dir)
        .orderBy(col("doc_id")).limit(256)
        .select((col("doc_id") % 256).as("k"), col("text").as("base")))
      val docRate = math.max(rowsPerSec / 20, 1000)
      val docs = spark.readStream.format("rate")
        .option("rowsPerSecond", docRate)
        .option("numPartitions", cpus).load()
        .select(col("value").as("doc_id"), (col("value") % 256).as("k"))
        .join(sample, Seq("k"))
        .select(col("doc_id"),
          concat(col("base"), lit(" tail"), (col("doc_id") % 7).cast("string")).as("text"))
        .select(col("doc_id"), md5(col("text")).as("md5"),
          HashFunctions.token_shingle_hashes(col("text"),
            IncrementalDedup.ShingleK).as("sh"))
      val decidedN = new java.util.concurrent.atomic.AtomicLong()
      val t0 = System.nanoTime()
      val q = docs.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = batch
            .select(col("doc_id"), col("md5"), col("sh"),
              posexplode(MinHashDedup.bandKeys(col("sh"))))
            .select(col("doc_id"), col("md5"), col("sh"),
              col("pos").as("band_idx"), col("col").as("band_key"))
            .join(idxBands, Seq("band_idx", "band_key"))
            .join(idx, Seq("rid"))
            .withColumn("j", round(MinHashDedup.jaccardSorted(col("sh"), col("sh_r")), 6))
            .groupBy(col("doc_id"), col("md5"))
            .agg(max(when(col("md5_r") === col("md5"), 1).otherwise(0)).as("exn"),
                 min(when(col("j") >= IncrementalDedup.Threshold, col("rid"))).as("ndup"))
            .count()
          decidedN.addAndGet(n); ()
        }
        .option("checkpointLocation", graft.Scratch.dir("bench_s8_ck"))
        .trigger(Trigger.ProcessingTime("2 seconds")).start()
      Thread.sleep(seconds * 1000L)
      val progress = q.recentProgress.toSeq
      q.stop(); q.awaitTermination()
      val elapsed = (System.nanoTime() - t0) / 1e9
      val measured = progress.drop(2).filter(_.numInputRows > 0)
      val rps = measured.map(_.processedRowsPerSecond).sorted
      val dps = if (rps.size >= 3) rps(rps.size / 2) else
        measured.map(_.numInputRows).sum / elapsed
      println(s"""{"stream":"s8_incr_dedup_serving","docs_per_sec_in":$docRate,""" +
        s""""probed_docs_per_sec":${dps.round},""" +
        s""""batches":${measured.size},"candidates_decided":${decidedN.get()}}""")
    }

    // S10-shaped stream-stream LEFT OUTER join: two independent rate
    // streams, watermark-evicted join state (5s watermark / 2s match
    // interval; sparse key space so most clicks emit their null row) —
    // run() asserts the join state stops growing once the watermark
    // passes, the scale property that makes the operator viable on an
    // unbounded source
    {
      val jr = math.max(rowsPerSec / 20, 1000)
      val keys = users * 100
      def side() = spark.readStream.format("rate")
        .option("rowsPerSecond", jr)
        .option("numPartitions", cpus).load()
      val clicks = side()
        .select(col("value").as("click_id"), (col("value") % keys).as("user_id"),
                col("timestamp").as("click_ts"))
        .withWatermark("click_ts", "5 seconds")
      val purchases = side()
        .filter(col("value") % 3 === 0)
        .select((col("value") % keys).as("p_user"),
                col("timestamp").as("purchase_ts"), (col("value") % 97).as("value"))
        .withWatermark("purchase_ts", "5 seconds")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 2 SECONDS"),
        "left_outer")
      run("s10_outer_join", joined, "append")
    }

    // S11-shaped trending maintenance: update-mode windowed per-item
    // counts (10s windows, 100-ary item space) merged last-writer-wins
    // into a foreachBatch-maintained view. Reported rps = event ingest
    // rate sustained while maintaining the view; the view row count is
    // windows×items (bounded), asserted non-exploding.
    {
      val trended = events()
        .select(col("ts"),
          concat(lit("{\"k\": "), (col("event_id") % 100).cast("string"),
            lit("}")).as("props"))
        .withWatermark("ts", "10 seconds")
        .groupBy(window(col("ts"), "10 seconds"), col("props"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").as("window_start"), col("props").as("item"),
          col("n_events"))
      val view = new java.util.concurrent.ConcurrentHashMap[(java.sql.Timestamp, String), Long]()
      val t0 = System.nanoTime()
      val rows = new java.util.concurrent.atomic.AtomicLong()
      val q = trended.writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach { r =>
            view.put((r.getTimestamp(0), r.getString(1)), r.getLong(2))
            rows.incrementAndGet()
          }
        }
        .option("checkpointLocation", graft.Scratch.dir("bench_s11_ck"))
        .trigger(Trigger.ProcessingTime("2 seconds")).start()
      Thread.sleep(seconds * 1000L)
      val progress = q.recentProgress.toSeq
      q.stop(); q.awaitTermination()
      val elapsed = (System.nanoTime() - t0) / 1e9
      val measured = progress.drop(2).filter(_.numInputRows > 0)
      val rps = measured.map(_.processedRowsPerSecond).sorted
      val medianRps = if (rps.isEmpty) 0.0 else rps(rps.size / 2)
      println(s"""{"stream":"s11_trending_view","rows_per_sec_in":$rowsPerSec,""" +
        s""""median_processed_rps":${medianRps.round},""" +
        s""""batches":${measured.size},"view_rows":${view.size},""" +
        s""""view_updates":${rows.get()},"elapsed_s":${elapsed.round}}""")
      require(view.size <= (seconds / 10 + 3) * 100,
        s"s11 view exploded: ${view.size} rows")
    }
    spark.stop()
  }
}
