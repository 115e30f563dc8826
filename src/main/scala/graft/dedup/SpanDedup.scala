package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}
import graft.functions.HashFunctions

/** §2.3 P33: cross-document duplicated-SPAN removal — the span-level
  * complement to the doc-level dedup family (p1/p2/p14/p25). Web-scale
  * corpora contain long verbatim spans repeated across otherwise-distinct
  * documents (licenses, navigation chrome, quoted passages); doc-level
  * near-dedup keeps those documents, so span-level removal is its own
  * pipeline stage (Lee et al., "Deduplicating Training Data Makes
  * Language Models Better" — ExactSubstr; applied here at word-k-gram
  * granularity).
  *
  * A word k-gram that appears in ≥ 2 DISTINCT documents is a duplicated
  * span; every word position covered by any duplicated-gram occurrence
  * is removed, and the document is re-rendered from the surviving
  * positions. Intra-document repetition is deliberately NOT removed here
  * — that's p22's metric.
  *
  * Scale shape: grams travel as fused-codegen xxhash64 longs
  * (`token_shingle_hash_seq` — one narrow generator per doc, no strings
  * in any shuffle); the duplicate test is a partial-aggregated
  * count-distinct keyed on the gram hash; coverage expansion emits ≤ k
  * positions per duplicated occurrence (linear in corpus grams, never
  * all-pairs); the rebuild is one anti-join plus a doc_id-keyed
  * aggregation. Every shuffle key is either the gram hash or doc_id —
  * at 100 TB this is scan → two keyed shuffles → scan-sized rebuild.
  * The DuckDB oracle counts gram STRINGS; identical answers absent a
  * 64-bit collision (~1e-11 at this shape), which the hash gate would
  * surface.
  */
object SpanDedup {

  /** Default window = 50 tokens, the granularity Lee et al. publish for
    * ExactSubstr ("we remove substrings of ≥ 50 BPE tokens repeated
    * verbatim"). Delta vs the paper, documented: (a) our unit is
    * WHITESPACE tokens, not BPE tokens (the p39 BPE vocab could supply
    * token ids, but whitespace keeps the oracle engine-neutral); (b) the
    * paper finds maximal repeats with a suffix array — a sliding
    * 50-gram equi-test finds exactly the same ≥50-token repeated
    * positions (every maximal repeat of length L ≥ 50 is covered by its
    * L−49 sliding windows), at one shuffle instead of a suffix-array
    * build. See [[byteSpansQuery]] for the byte-granularity variant. */
  val DefaultK = 50

  /** Per-doc duplicated-span removal record: word count, removed-word
    * count and fraction, and an md5 of the re-rendered text (compact and
    * fully discriminating). Docs shorter than k words hash ONE truncated
    * gram (the whole doc) — `tokenShingleHashSeq` semantics, mirrored by
    * the oracle — so a short doc duplicated elsewhere is fully removed. */
  def duplicatedSpansQuery(spark: SparkSession, dir: String, k: Int = DefaultK): DataFrame =
    duplicatedSpans(Tables.documents(spark, dir), k)

  /** Operator form over any (doc_id, text) frame. */
  def duplicatedSpans(docsIn: DataFrame, k: Int): DataFrame = {
    val spark = docsIn.sparkSession
    import spark.implicits._
    val docs = docsIn.select($"doc_id", $"text")
    // both the dup-count and the coverage join branch off the exploded
    // gram relation — cache it or the split+hash pipeline runs twice
    // (same reasoning as p23/boilerplate)
    val grams = docs
      .select($"doc_id", posexplode(HashFunctions.token_shingle_hash_seq($"text", k)))
      .withColumnRenamed("col", "g")
      .persist()
    val dup = grams.groupBy($"g").agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2).select($"g")
    val covered = grams.join(dup, Seq("g"))
      .select($"doc_id", explode(sequence($"pos", $"pos" + lit(k - 1))).as("pos"))
      .distinct()
    val words = docs
      .select($"doc_id", posexplode(split($"text", "\\s+")))
      .withColumnRenamed("col", "word")
    // rank carried into the struct + array_sort: the rendered text is
    // partition/merge-order independent (p32's pattern)
    val kept = words.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
           array_sort(collect_list(struct($"pos", $"word"))).as("arr"))
      .select($"doc_id", $"n_kept",
              concat_ws(" ", expr("transform(arr, x -> x.word)")).as("kept_text"))
    val nw = words.groupBy($"doc_id").agg(count(lit(1)).as("n_words"))
    nw.join(kept, Seq("doc_id"), "left")
      .select($"doc_id", $"n_words",
        ($"n_words" - coalesce($"n_kept", lit(0L))).as("n_dup_words"),
        round(($"n_words" - coalesce($"n_kept", lit(0L))) / $"n_words", 6).as("dup_frac"),
        md5(coalesce($"kept_text", lit(""))).as("kept_md5"))
      .orderBy($"doc_id")
  }

  /** Byte-granularity ExactSubstr (the paper's other published unit):
    * sliding k-CHAR windows (≡ bytes on this ASCII corpus; on full UTF-8
    * you'd window the encoded bytes), duplicate = window text appearing
    * in ≥ 2 distinct documents, every covered character removed and the
    * doc re-rendered from the survivors. Same two-keyed-shuffle scale
    * shape as the word path — grams travel as xxhash64 longs, coverage
    * is ≤ k positions per duplicated occurrence. */
  def byteSpansQuery(spark: SparkSession, dir: String, k: Int = DefaultK): DataFrame =
    byteSpans(Tables.documents(spark, dir), k)

  /** Operator form of the byte/char-gram variant.
    *
    * Scale shape (the r9 verdict's p33b defect, fixed): the gram stream
    * is ONE fused `char_window_hash_seq` pass per doc — a single
    * char-offset walk, then each window hashes its byte slice in place
    * (O(len·k) bytes hashed) — where the first cut's
    * `xxhash64(substring(text, pos, k))` paid an O(len) UTF8
    * char-offset scan PER WINDOW (O(len²) per doc: quadratic on real
    * multi-KB web documents). The re-render is row-local too: covered
    * positions fold to one sorted int array per doc and
    * `remove_char_positions` rebuilds the text in one byte walk —
    * replacing a per-CHARACTER explode + anti-join + collect whose
    * shuffle carried one row per character of the corpus. Long-doc
    * linearity is measured in BENCH_HISTORY (round 10). */
  def byteSpans(docsIn: DataFrame, k: Int): DataFrame = {
    val spark = docsIn.sparkSession
    import spark.implicits._
    val docs = docsIn.select($"doc_id", $"text")
    val grams = docs
      .select($"doc_id", posexplode(HashFunctions.char_window_hash_seq($"text", k)))
      .withColumnRenamed("col", "g")   // pos is the 0-based window start
      .persist()
    val dup = grams.groupBy($"g").agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2).select($"g")
    // covered 1-based char positions, folded to ONE sorted array per doc.
    // Only the duplicated-window START positions travel through the
    // aggregation (1 int per occurrence, map-side combined); the k×
    // expansion to covered positions happens ROW-LOCALLY on the folded
    // array. The first cut exploded sequence(pos+1, pos+k) BEFORE the
    // groupBy — k=50 rows per occurrence through the shuffle, ~5B rows
    // at the 100× decade where the replicated corpus duplicates every
    // gram (measured: 72.3s → the shuffle now carries 50× less).
    val covered = grams.join(dup, Seq("g"))
      .groupBy($"doc_id")
      .agg(collect_set($"pos").as("starts"))
      .select($"doc_id",
        array_sort(array_distinct(flatten(transform($"starts",
          s => sequence(s + 1, s + lit(k)))))).as("cov"))
    docs.join(covered, Seq("doc_id"), "left")
      .select($"doc_id", length($"text").cast("long").as("n_chars"),
        HashFunctions.remove_char_positions($"text",
          coalesce($"cov", array().cast("array<int>"))).as("kept_text"))
      .select($"doc_id", $"n_chars",
        ($"n_chars" - length($"kept_text")).as("n_dup_chars"),
        round(($"n_chars" - length($"kept_text")) / $"n_chars", 6).as("dup_frac"),
        md5($"kept_text").as("kept_md5"))
      .orderBy($"doc_id")
  }

  /** DuckDB oracle: same k-gram stream (strings), same ≥2-distinct-docs
    * duplicate test, same position coverage and re-render. */
  val oracleSql: String =
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
       g0 AS (
         SELECT doc_id, [{'i': i, 'gram': array_to_string(w[i:i+49], ' ')}
                         for i in range(1, greatest(len(w) - 49, 1) + 1)] AS gs
         FROM t),
       g AS (SELECT doc_id, unnest(gs, recursive := true) FROM g0),
       dup AS (
         SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
       cov AS (
         SELECT DISTINCT doc_id, unnest(range(i, i + 50)) AS pos
         FROM g JOIN dup USING (gram)),
       words0 AS (
         SELECT doc_id, [{'pos': i, 'word': w[i]}
                         for i in range(1, len(w) + 1)] AS ws
         FROM t),
       words AS (SELECT doc_id, unnest(ws, recursive := true) FROM words0),
       kept AS (
         SELECT words.doc_id, count(*) AS n_kept,
                string_agg(words.word, ' ' ORDER BY words.pos) AS kept_text
         FROM words LEFT JOIN cov
           ON words.doc_id = cov.doc_id AND words.pos = cov.pos
         WHERE cov.pos IS NULL
         GROUP BY words.doc_id),
       nw AS (SELECT doc_id, len(w) AS n_words FROM t)
       SELECT nw.doc_id, nw.n_words,
         nw.n_words - coalesce(kept.n_kept, 0) AS n_dup_words,
         round((nw.n_words - coalesce(kept.n_kept, 0)) / CAST(nw.n_words AS DOUBLE), 6) AS dup_frac,
         md5(coalesce(kept.kept_text, '')) AS kept_md5
       FROM nw LEFT JOIN kept USING (doc_id)
       ORDER BY doc_id"""

  /** DuckDB oracle for the byte/char-gram variant: gram STRINGS via
    * substr, same coverage and re-render, per-character. */
  val byteOracleSql: String =
    """WITH t AS (SELECT doc_id, text FROM documents),
       g0 AS (
         SELECT doc_id, [{'i': i, 'gram': substr(text, CAST(i AS INT), 50)}
                         for i in range(1, greatest(len(text) - 49, 1) + 1)] AS gs
         FROM t),
       g AS (SELECT doc_id, unnest(gs, recursive := true) FROM g0),
       dup AS (
         SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
       cov AS (
         SELECT DISTINCT doc_id, unnest(range(i, i + 50)) AS pos
         FROM g JOIN dup USING (gram)),
       chars0 AS (
         SELECT doc_id, [{'pos': i, 'ch': substr(text, CAST(i AS INT), 1)}
                         for i in range(1, len(text) + 1)] AS cs
         FROM t),
       chars AS (SELECT doc_id, unnest(cs, recursive := true) FROM chars0),
       kept AS (
         SELECT chars.doc_id, count(*) AS n_kept,
                string_agg(chars.ch, '' ORDER BY chars.pos) AS kept_text
         FROM chars LEFT JOIN cov
           ON chars.doc_id = cov.doc_id AND chars.pos = cov.pos
         WHERE cov.pos IS NULL
         GROUP BY chars.doc_id),
       nc AS (SELECT doc_id, len(text) AS n_chars FROM t)
       SELECT nc.doc_id, CAST(nc.n_chars AS BIGINT) AS n_chars,
         CAST(nc.n_chars - coalesce(kept.n_kept, 0) AS BIGINT) AS n_dup_chars,
         round((nc.n_chars - coalesce(kept.n_kept, 0)) / CAST(nc.n_chars AS DOUBLE), 6) AS dup_frac,
         md5(coalesce(kept.kept_text, '')) AS kept_md5
       FROM nc LEFT JOIN kept USING (doc_id)
       ORDER BY doc_id"""

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("p33_dup_spans", (s, d) => duplicatedSpansQuery(s, d), Some(oracleSql)),
    QuerySpec("p33b_dup_spans_bytes", (s, d) => byteSpansQuery(s, d), Some(byteOracleSql)))
}
