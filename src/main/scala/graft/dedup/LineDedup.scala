package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}

/** §2.3 P47: cross-document duplicated-LINE removal — the C4 (Raffel et
  * al. 2020) / MassiveText (Rae et al. 2021 A1.2) line-level dedup
  * step: any LINE that occurs verbatim in ≥ `minDocs` distinct
  * documents is boilerplate (nav bars, cookie banners, footers,
  * licence blurbs) and is stripped IN PLACE, keeping the rest of each
  * document. It sits between p43 (intra-doc markup stripping) and p23
  * (cross-doc boilerplate *scoring*): p23 only measures the
  * boilerplate fraction, this operator actually rewrites the corpus at
  * line granularity, and p33 does the same at word-k-gram granularity
  * for non-line-aligned spans.
  *
  * Scale shape: ONE exploded (doc, pos, line) stream feeds (a) the
  * duplicated-line dictionary — a count-distinct-docs aggregation
  * keyed on the line's 64-bit hash, partial-aggregated map-side — and
  * (b) the rewrite join, equi-keyed on the same hash (AQE broadcasts
  * the dictionary when it is small; at web scale it stays a keyed
  * shuffle — never all-pairs). The re-render is the p32/p33
  * order-independent pattern: collect kept (pos, line) structs, sort
  * by position, join with newline. Three keyed shuffles total, each on
  * a 64-bit key; raw line text never travels through the dictionary
  * aggregation.
  *
  * The corpus is single-line text, so the query plants a deterministic
  * multi-line page first (p21/p43 pattern): a per-source nav line, a
  * cookie banner on a content-addressed half of the docs, the doc text
  * as 8-token content lines, and a per-source footer. The oracle
  * replays the identical plant, so removal is graded on known ground
  * truth: nav/cookie/footer lines repeat across ≥3 docs and must go;
  * content lines survive unless the corpus genuinely repeats them
  * (near-dup clusters of ≥3 — real data, replayed exactly by DuckDB).
  */
object LineDedup {

  /** Tokens per planted content line, and the "appears in ≥ minDocs
    * distinct docs" boilerplate threshold (C4 used "more than once";
    * ≥3 keeps pair-wise near-dup content intact, the MassiveText
    * operating point). */
  val LineTokens = 8
  val MinDocs = 3

  val CookieLine = "we use cookies to improve your experience and analyze traffic"

  /** Deterministic planted page as an array<string> of lines:
    * nav header, conditional cookie banner (content-addressed half of
    * doc_ids), 8-token content chunks, footer. Row-local. */
  private[graft] def plantedLines(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), "\\s+")
    val nChunks = ceil(size(toks) / lit(LineTokens.toDouble)).cast("int")
    val content = transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(toks, i * LineTokens + 1, lit(LineTokens))))
    val cookieCond = conv(substring(md5(concat(lit("cookie:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 2 === 0
    docs.select(col("doc_id"),
      concat(
        array(concat(lit("home about contact "), col("source"))),
        when(cookieCond, array(lit(CookieLine)))
          .otherwise(array().cast("array<string>")),
        content,
        array(concat(lit("copyright "), col("source"),
          lit(" all rights reserved")))).as("ls"))
  }

  /** The dedup pipeline over any (doc_id, ls: array<string>) frame —
    * exposed so specs can grade handcrafted pages. Emits one decision
    * record per document: line counts before/removed plus the md5 of
    * the rewritten text (lines kept in original order, joined by \n). */
  def stripFrom(pages: DataFrame, minDocs: Int = MinDocs): DataFrame = {
    // both the dictionary aggregation and the rewrite join consume the
    // exploded stream — cache it or the plant+explode runs twice (the
    // p23/p18 branch-off rule); the per-doc result outlives the cache
    val lines = exploded(pages)
    Materialize.scoped(lines)(Materialize(pipeline(lines, minDocs)))
  }

  /** The (doc_id, pos, line, lk) stream [[pipeline]] reads twice. */
  private[graft] def exploded(pages: DataFrame): DataFrame = {
    import pages.sparkSession.implicits._
    pages.select($"doc_id", posexplode($"ls").as(Seq("pos", "line")))
      .withColumn("lk", xxhash64($"line"))
  }

  /** The un-checkpointed dataflow over the cached [[exploded]] lines. */
  private[graft] def pipeline(lines: DataFrame, minDocs: Int = MinDocs): DataFrame = {
    import lines.sparkSession.implicits._
    // duplicated-line dictionary: lines in >= minDocs DISTINCT docs.
    // Keyed on the 64-bit line hash so the 100 TB shuffle carries longs,
    // not raw lines (p23's trick); the oracle counts line strings — a
    // collision would surface as a hash-gate mismatch.
    val dup = lines.groupBy($"lk")
      .agg(count_distinct($"doc_id").as("n_docs_with"))
      .filter($"n_docs_with" >= minDocs)
      .select($"lk", lit(true).as("is_dup"))
    lines.join(dup, Seq("lk"), "left")
      .withColumn("is_dup", coalesce($"is_dup", lit(false)))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when($"is_dup", 1L).otherwise(0L)).as("n_removed"),
        concat_ws("\n", transform(
          array_sort(collect_list(when(!$"is_dup", struct($"pos", $"line")))),
          s => s.getField("line"))).as("clean"))
      .select($"doc_id", $"n_lines", $"n_removed",
        length($"clean").cast("long").as("clean_chars"),
        md5($"clean").as("clean_md5"))
  }

  /** p47: plant the page, strip cross-document duplicated lines, one
    * decision record per document. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    stripFrom(plantedLines(Tables.documents(spark, dir))).orderBy($"doc_id")
  }

  /** DuckDB replay: identical plant, count(DISTINCT doc_id) per line
    * STRING, rewrite via list_filter against the (boilerplate-sized)
    * duplicated-line list. */
  val oracleSql: String =
    s"""WITH t AS (
         SELECT doc_id, source, regexp_split_to_array(text, '\\s+') AS toks
         FROM documents),
       pages AS (
         SELECT doc_id,
           list_concat(list_concat(list_concat(
             ['home about contact ' || source],
             CASE WHEN CAST(('0x' || substring(md5('cookie:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
               THEN ['$CookieLine'] ELSE [] END),
             [array_to_string(toks[i:i+${LineTokens - 1}], ' ')
              for i in range(1, len(toks) + 1, $LineTokens)]),
             ['copyright ' || source || ' all rights reserved']) AS ls
         FROM t),
       dups AS (
         SELECT line FROM (
           SELECT line, count(DISTINCT doc_id) AS nd
           FROM (SELECT doc_id, unnest(ls) AS line FROM pages)
           GROUP BY line)
         WHERE nd >= $MinDocs),
       dl AS (SELECT coalesce(list(line), []) AS dl FROM dups),
       rw AS (
         SELECT doc_id, ls,
           list_filter(ls, x -> NOT list_contains(dl.dl, x)) AS kept
         FROM pages CROSS JOIN dl)
       SELECT doc_id,
         CAST(len(ls) AS BIGINT) AS n_lines,
         CAST(len(ls) - len(kept) AS BIGINT) AS n_removed,
         CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS clean_chars,
         md5(array_to_string(kept, chr(10))) AS clean_md5
       FROM rw
       ORDER BY doc_id"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p47_line_dedup", query, Some(oracleSql)))
}
