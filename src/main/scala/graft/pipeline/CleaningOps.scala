package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, Tables}

/** Corpus-cleaning operators for the training-data pipeline: PII
  * redaction, intra-document repetition gating (Gopher-style quality
  * rules), cross-document boilerplate detection, and deterministic
  * stratified sampling. All pure column algebra / bounded keyed
  * shuffles; each driver query carries an exact DuckDB oracle.
  */
object CleaningOps {

  /** Codegen-friendly regexes shared by the Spark query and the DuckDB
    * oracle — kept to the common Java-regex/RE2 subset (character
    * classes + bounded quantifiers; no lookaround, no backrefs). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+1-555-[0-9]{4}"
  val UrlRe   = "https?://[A-Za-z0-9./_-]+"

  /** The documents table is synthetic word soup with no PII, so the
    * query first plants deterministic doc_id-derived PII (an email, a
    * phone, a URL) into each document — the oracle replays the same
    * derivation, so redaction is graded on known ground truth. */
  private[pipeline] def withPlantedPii(docs: DataFrame): DataFrame =
    docs.withColumn("raw", concat(
      substring(col("text"), 1, 40),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or call +1-555-"),
      lpad((col("doc_id") * 7919 % 10000).cast("string"), 4, "0"),
      lit(" at https://site"), (col("doc_id") % 7).cast("string"),
      lit(".example.com/p/"), col("doc_id").cast("string"), lit(" end")))

  /** p21: PII redaction — emails, phone numbers, and URLs replaced with
    * typed placeholder tokens; per-doc match counts plus an md5 of the
    * redacted text (compact, fully discriminating). Per-row regex map,
    * zero shuffle: at 100 TB this runs at scan speed inside whole-stage
    * codegen.
    */
  def piiRedactionQuery(spark: SparkSession, dir: String): DataFrame = {
    val raw = withPlantedPii(Tables.documents(spark, dir))
    raw.select(
        col("doc_id"),
        regexp_count(col("raw"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_count(col("raw"), lit(UrlRe)).cast("long").as("n_urls"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("raw"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          UrlRe, "<URL>").as("redacted"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_urls"),
              length(col("redacted")).cast("long").as("redacted_len"),
              md5(col("redacted")).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** p22: intra-document repetition metrics (Gopher-style quality
    * rules): duplicate-word fraction and most-frequent-bigram fraction,
    * with a keep gate. The bigram top count is a per-doc aggregate of an
    * exploded bigram stream — the shuffle key is (doc_id, bigram-hash),
    * so work scales with corpus size, never all-pairs. Bigrams travel as
    * fused-codegen xxhash64 longs (`token_shingle_hash_seq`), never as
    * strings: the interpreted `transform`+`array_join` HOF pipeline this
    * replaces was the whole query's cost AND a JIT-warmup hazard (an
    * uncompiled interpreter path mid-pack ran 30-90× slower). The DuckDB
    * oracle counts the gram STRINGS — identical answers absent a 64-bit
    * collision inside one document (~1e-11 at this shape), which the
    * hash gate would surface.
    */
  def repetitionQuery(spark: SparkSession, dir: String,
                      topBigramMax: Double = 0.2): DataFrame = {
    // docs with < 2 words are excluded on BOTH sides: the bigram
    // fraction's n−1 denominator would be 0 and the two engines disagree
    // on double 0/0 (NaN vs NULL)
    val w = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), split(col("text"), "\\s+").as("w"))
      .filter(size(col("w")) >= 2)
    val stats = w.select(col("doc_id"),
      size(col("w")).cast("long").as("n_words"),
      size(array_distinct(col("w"))).cast("long").as("n_distinct"))
    val top = w
      .select(col("doc_id"),
        explode(graft.functions.HashFunctions.token_shingle_hash_seq(col("text"), 2))
          .as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_bigram_n"))
    stats.join(top, Seq("doc_id"), "left")
      .withColumn("top_bigram_n", coalesce(col("top_bigram_n"), lit(0L)))
      .select(col("doc_id"), col("n_words"),
        round(lit(1.0) - col("n_distinct") / col("n_words"), 6).as("dup_word_frac"),
        round(col("top_bigram_n") / (col("n_words") - 1), 6).as("top_bigram_frac"),
        (col("top_bigram_n") / (col("n_words") - 1) < topBigramMax).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** p23: cross-document boilerplate — word 3-grams appearing in ≥
    * `minDocs` documents of the SAME source are boilerplate; each doc
    * reports its boilerplate-gram fraction. Gram sets are deduped per
    * document BEFORE counting (a phrase repeated inside one doc is
    * repetition, not boilerplate), and the count join runs on fused
    * xxhash64 gram keys (`token_shingle_hashes` — already sorted
    * distinct per doc, built in codegen) so the 100 TB shuffle carries
    * 64-bit longs, not raw text, and no interpreted HOF sits in the hot
    * path. The oracle counts gram strings; a collision (~1e-11 here)
    * would surface as a hash-gate mismatch.
    */
  def boilerplateQuery(spark: SparkSession, dir: String,
                       n: Int = 3, minDocs: Int = 8): DataFrame = {
    // both join sides branch off the exploded gram relation — cache it
    // or the split+shingle-hash pipeline executes twice (same reasoning
    // as TrainingOps.contaminationQuery)
    val gk = Tables.documents(spark, dir)
      .filter(size(split(lower(col("text")), "\\s+")) >= n)
      .select(col("source"), col("doc_id"),
        explode(graft.functions.HashFunctions.token_shingle_hashes(lower(col("text")), n))
          .as("gk"))
    Materialize.scoped(gk) {
      val boiler = gk.groupBy(col("source"), col("gk"))
        .agg(count(lit(1)).as("n_docs_with"))
        .filter(col("n_docs_with") >= minDocs)
        .select(col("source"), col("gk"), lit(1L).as("is_boiler"))
      Materialize(gk.join(boiler, Seq("source", "gk"), "left") // per-doc rows only
        .groupBy(col("source"), col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
             sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler"))
        .withColumn("boiler_frac", round(col("n_boiler") / col("n_grams"), 6))
        .orderBy(col("source"), col("doc_id")))
    }
  }

  /** p24: deterministic stratified sampling — per source, keep the k
    * documents with the smallest content-addressed hash. Stable under
    * repartitioning and retries (the hash is a pure function of the
    * key), unlike `sample()`; the per-group top-k is a partitioned
    * window, no global sort.
    */
  def stratifiedSampleQuery(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val h = md5(concat(lit("sample:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("source")).orderBy(h, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
      .orderBy(col("source"), col("sample_rank"))
  }
}
