package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}

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

  def specs: Seq[QuerySpec] = Seq(
    // p21: replay the planted PII and the redaction chain (patterns are
    // in the shared Java-regex/RE2 subset so both engines match
    // identically); md5 of the redacted text is fully discriminating.
    QuerySpec("p21_pii_redaction", piiRedactionQuery, Some(
      """WITH raw AS (
           SELECT doc_id,
             substring(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@mail.example.com or call +1-555-'
             || lpad(CAST(doc_id * 7919 % 10000 AS VARCHAR), 4, '0')
             || ' at https://site' || CAST(doc_id % 7 AS VARCHAR)
             || '.example.com/p/' || CAST(doc_id AS VARCHAR) || ' end' AS raw
           FROM documents),
         red AS (
           SELECT doc_id, raw,
             regexp_replace(regexp_replace(regexp_replace(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
               'https?://[A-Za-z0-9./_-]+', '<URL>', 'g') AS redacted
           FROM raw)
         SELECT doc_id,
           CAST(len(regexp_extract_all(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(raw, 'https?://[A-Za-z0-9./_-]+')) AS BIGINT) AS n_urls,
           CAST(length(redacted) AS BIGINT) AS redacted_len,
           md5(redacted) AS redacted_md5
         FROM red ORDER BY doc_id""")),
    // p22: Gopher-style repetition metrics (docs with <2 words excluded
    // on both sides — the n−1 denominator would be 0).
    QuerySpec("p22_repetition", (s, d) => repetitionQuery(s, d), Some(
      """WITH w AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
         w2 AS (SELECT * FROM w WHERE len(w) >= 2),
         stats AS (
           SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
             CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
           FROM w2),
         bg AS (
           SELECT doc_id,
             unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS bg
           FROM w2),
         top AS (
           SELECT doc_id, max(c) AS top_n FROM (
             SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg) t
           GROUP BY doc_id)
         SELECT s.doc_id, s.n_words,
           round(1.0 - s.n_distinct / s.n_words, 6) AS dup_word_frac,
           round(COALESCE(top.top_n, 0) / (s.n_words - 1), 6) AS top_bigram_frac,
           (COALESCE(top.top_n, 0) / (s.n_words - 1)) < 0.2 AS keep
         FROM stats s LEFT JOIN top USING (doc_id)
         ORDER BY s.doc_id""")),
    // p23: cross-document boilerplate — per-doc-distinct 3-grams counted
    // per source; Spark joins md5 keys, this replay joins the gram
    // strings (the gate would catch any hash collision).
    QuerySpec("p23_boilerplate", (s, d) => boilerplateQuery(s, d), Some(
      """WITH w AS (
           SELECT source, doc_id, string_split_regex(lower(text), '\s+') AS w
           FROM documents),
         g AS (
           SELECT source, doc_id,
             unnest(list_distinct([array_to_string(w[i:i+2], ' ')
               for i in range(1, len(w) - 1)])) AS gram
           FROM w WHERE len(w) >= 3),
         c AS (
           SELECT source, gram, CAST(count(*) AS BIGINT) AS n_docs_with
           FROM g GROUP BY source, gram)
         SELECT g.source, g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN c.n_docs_with >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           round(sum(CASE WHEN c.n_docs_with >= 8 THEN 1 ELSE 0 END) / count(*), 6)
             AS boiler_frac
         FROM g JOIN c USING (source, gram)
         GROUP BY g.source, g.doc_id
         ORDER BY g.source, g.doc_id""")),
    // p24: deterministic stratified sample — replay the content hash.
    QuerySpec("p24_stratified_sample", (s, d) => stratifiedSampleQuery(s, d), Some(
      """SELECT source, doc_id, sample_rank FROM (
           SELECT source, doc_id,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
               AS sample_rank
           FROM documents) t
         WHERE sample_rank <= 5
         ORDER BY source, sample_rank""")))
}
