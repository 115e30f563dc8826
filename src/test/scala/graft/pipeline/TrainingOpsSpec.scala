package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TrainingOpsSpec extends SparkSpec {
  import spark.implicits._

  test("hash split is content-addressed: stable across partitionings, roughly 80/10/10") {
    val df = (0L until 2000L).toDF("id")
    val a = TrainingOps.assignSplit(df, "id")
      .groupBy($"split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(a("train") - 1600.0) < 120, s"train share off: $a")
    assert(math.abs(a("val") - 200.0) < 60 && math.abs(a("test") - 200.0) < 60, s"val/test off: $a")
    // same rows, different partitioning → identical per-row assignment
    val x = TrainingOps.assignSplit(df.repartition(13), "id").select($"id", $"split")
    val y = TrainingOps.assignSplit(df.coalesce(1), "id").select($"id", $"split")
    assert(x.except(y).count() == 0 && y.except(x).count() == 0)
  }

  test("mixture resampling hits target rates, is stable, and keeps unlisted sources whole") {
    val df = (0L until 4000L).map(i => (i, "s" + (i % 2))).toDF("id", "source")
    val kept = TrainingOps.resampleMixture(df, "id", "source", Map("s0" -> 250))
    val bySrc = kept.groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("s1") == 2000L, "unlisted source must keep everything")
    assert(math.abs(bySrc("s0") - 500.0) < 80, s"s0 should keep ~25%: $bySrc")
    // resampling twice selects the same rows (content-addressed)
    val again = TrainingOps.resampleMixture(df.repartition(7), "id", "source", Map("s0" -> 250))
    assert(kept.select($"id").except(again.select($"id")).count() == 0)
    assert(again.select($"id").except(kept.select($"id")).count() == 0)
  }

  test("sequence packing assigns every doc to the sequence where it starts") {
    // 10 docs per source, each exactly 100 tokens ("tok " x 100, trailing
    // space => split yields 101 elements; use 99 repeats + 1 = 100)
    val docs = (0L until 20L).map { i =>
      (i, ("tok " * 99) + "end", "en", "s" + (i % 2), 400L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = graft.Scratch.dir("pack")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TrainingOps.packQuery(spark, tmp, seqLen = 250)
      .select($"source", $"seq_idx", $"n_docs", $"n_tokens")
      .as[(String, Long, Long, Long)].collect().sortBy(t => (t._1, t._2))
    graft.Scratch.delete(tmp)
    // per source: 10 docs x 100 tokens, seqLen 250 -> doc starts at
    // cum 0,100,200,...,900 -> seq_idx 0,0,0,1,1,2,2,2,3,3
    val expected = Seq(
      ("s0", 0L, 3L, 300L), ("s0", 1L, 2L, 200L), ("s0", 2L, 3L, 300L), ("s0", 3L, 2L, 200L),
      ("s1", 0L, 3L, 300L), ("s1", 1L, 2L, 200L), ("s1", 2L, 3L, 300L), ("s1", 3L, 2L, 200L))
    assert(out.toSeq == expected, out.mkString(","))
  }

  test("contamination flags a planted copy and ignores disjoint docs") {
    val bench = (0L, "the quick brown fox jumps over the lazy dog again and again today")
    val copy = (5L, "prefix words " + bench._2 + " suffix words")   // shares 8-grams
    val clean = (6L, "completely different content with no overlapping phrases at all whatsoever in any way")
    val docs = Seq(bench, copy, clean).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
    val tmp = graft.Scratch.dir("contam")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // doc 0 is the benchmark side (0 % 37 == 0); docs 5/6 are training
    val out = TrainingOps.contaminationQuery(spark, tmp, n = 8, minShared = 3)
      .select($"train_doc", $"bench_doc", $"n_shared").as[(Long, Long, Long)].collect()
    graft.Scratch.delete(tmp)
    assert(out.map(t => (t._1, t._2)).toSet == Set((5L, 0L)), out.mkString(","))
    assert(out.head._3 >= 3)
  }

  test("chunking covers the text exactly with stride overlap") {
    val text = ("abcdefghij" * 40)   // 400 chars → starts 0,150,300
    val docs = Seq((1L, text)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
    val tmp = graft.Scratch.dir("chunk")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TrainingOps.chunkQuery(spark, tmp)
      .select($"chunk_start", $"chunk_len").as[(Long, Long)].collect().sortBy(_._1)
    graft.Scratch.delete(tmp)
    assert(out.map(_._1).toSeq == Seq(0L, 150L, 300L))
    assert(out.map(_._2).toSeq == Seq(200L, 200L, 100L))   // last chunk truncates
  }

  test("train order: a total permutation per shard, stable across partitionings") {
    val df = (0L until 500L).toDF("id")
    val a = TrainingOps.trainOrder(df, "id", epoch = 1, nShards = 4)
    val rows = a.select($"id", $"shard", $"pos").as[(Long, Long, Int)].collect()
    assert(rows.length == 500 && rows.map(_._1).distinct.length == 500)
    // within each shard, pos is exactly 1..n
    rows.groupBy(_._2).foreach { case (_, g) =>
      assert(g.map(_._3).sorted.toSeq == (1 to g.length))
    }
    // content-addressed: identical assignment under a different partitioning
    val b = TrainingOps.trainOrder(df.repartition(13), "id", 1, 4)
      .select($"id", $"shard", $"pos")
    assert(a.select($"id", $"shard", $"pos").except(b).count() == 0)
  }

  test("train order: epochs decorrelate, same epoch replays exactly") {
    val df = (0L until 400L).toDF("id")
    def orderOf(epoch: Int): Seq[Long] =
      TrainingOps.trainOrder(df, "id", epoch, nShards = 1)
        .orderBy($"pos").select($"id").as[Long].collect().toSeq
    val e1 = orderOf(1); val e1b = orderOf(1); val e2 = orderOf(2)
    assert(e1 == e1b)                   // deterministic replay
    assert(e1 != e2)                    // epoch salt gives a fresh permutation
    assert(e1.sorted == e2.sorted)      // same multiset — nothing dropped
    // neither epoch's order is the sorted-id order (it actually shuffles)
    assert(e1 != e1.sorted && e2 != e2.sorted)
  }
}
