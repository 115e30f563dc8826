package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CleaningOpsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("pii redaction finds and removes exactly the planted pii") {
    val out = CleaningOps.piiRedactionQuery(spark, dir).cache()
    val n = out.count()
    assert(n > 0)
    // every doc gets exactly one planted email/phone/url, and the
    // redacted text must contain none of the raw PII shapes
    assert(out.filter($"n_emails" === 1L && $"n_phones" === 1L && $"n_urls" === 1L)
      .count() == n, "each doc plants exactly one of each PII kind")
    val docs = graft.Tables.documents(spark, dir)
    val red = CleaningOps.withPlantedPii(docs)
      .withColumn("redacted", regexp_replace(regexp_replace(regexp_replace($"raw",
        CleaningOps.EmailRe, "<EMAIL>"), CleaningOps.PhoneRe, "<PHONE>"),
        CleaningOps.UrlRe, "<URL>"))
    assert(red.filter(
      $"redacted".rlike(CleaningOps.EmailRe) ||
      $"redacted".rlike(CleaningOps.PhoneRe) ||
      $"redacted".rlike("https?://")).count() == 0, "no PII survives redaction")
    assert(red.filter(!$"redacted".contains("<EMAIL>") ||
      !$"redacted".contains("<PHONE>") || !$"redacted".contains("<URL>"))
      .count() == 0, "placeholders present")
    out.unpersist()
  }

  test("repetition metrics match a hand-built fixture") {
    val docs = Seq(
      (1L, "a b a b a b", "en", "s", 11L),          // top bigram "a b" = 3 of 5
      (2L, "u v w x y z", "en", "s", 11L),          // all distinct
      (3L, "t t t t", "en", "s", 7L)                // one word repeated
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = graft.Scratch.dir("rep")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val m = CleaningOps.repetitionQuery(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(m(1L)._1 == 6L && math.abs(m(1L)._3 - 0.6) < 1e-9 && !m(1L)._4) // 3/5 "a b"
    assert(m(2L)._2 == 0.0 && math.abs(m(2L)._3 - 0.2) < 1e-9)             // all bigrams unique: 1/5
    assert(math.abs(m(3L)._2 - 0.75) < 1e-9 && m(3L)._3 == 1.0 && !m(3L)._4)
    graft.Scratch.delete(tmp)
  }

  test("boilerplate grams are per-doc-distinct and counted per source") {
    // 10 docs in s0 share the gram "the same intro"; doc 99 in s1 has it
    // too but alone in its source -> not boilerplate there
    val docs = ((0L until 10L).map(i => (i, s"the same intro unique$i words here", "en", "s0", 30L)) :+
      (99L, "the same intro alone", "en", "s1", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = graft.Scratch.dir("boiler")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = CleaningOps.boilerplateQuery(spark, tmp, n = 3, minDocs = 8).cache()
    val s0 = out.filter($"source" === "s0")
    assert(s0.filter($"n_boiler" === 0L).count() == 0, "shared intro gram must be boilerplate in s0")
    assert(out.filter($"source" === "s1").head().getLong(3) == 0L, "s1 gram is not boilerplate")
    out.unpersist()
    graft.Scratch.delete(tmp)
  }

  test("stratified sample is deterministic and exactly k per group") {
    val a = CleaningOps.stratifiedSampleQuery(spark, dir, k = 5)
    val b = CleaningOps.stratifiedSampleQuery(spark, dir, k = 5)
    assert(a.groupBy($"source").count().filter($"count" =!= 5L).count() == 0)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }
}
