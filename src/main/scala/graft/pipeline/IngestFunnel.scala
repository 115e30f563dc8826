package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P51: the composed INGEST FRONT-END — the round-7 operators as
  * one dataflow, the web-corpus pipeline every curation stack runs
  * before p13's gates:
  *
  *   raw page → p43 main-content extraction → p42 normalization
  *            → length/word-shape gates → exact dedup on the
  *            normalized text → per-source funnel report.
  *
  * The funnel REPORT is the point: production ingest is judged by its
  * stage attrition (how many docs survive extraction, gating, dedup,
  * and how many clean chars come out), and computing the whole funnel
  * as ONE dataflow means Catalyst fuses the row-local stages
  * (extraction rules, normalization, gates) into the scan projection —
  * the shuffles are exactly the extraction re-render, the dedup window
  * and the final per-source aggregate. Flags, not successive frames:
  * each stage is a boolean over the same row stream, so the funnel
  * costs one pass.
  *
  * All funnel figures are counts or char totals (integers) — no float
  * leaves the gate.
  */
object IngestFunnel {

  /** Word-shape gate bounds: ≥ MinWords words, mean word length within
    * [2, 12] (integer-micro) — the Gopher A1.1 subset that applies to
    * extracted web text. */
  val MinWords = 8
  val MwLoMicro = 2000000L
  val MwHiMicro = 12000000L

  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val ext = HtmlExtract.extractedText(
      HtmlExtract.withPlantedHtml(docs).select($"doc_id", $"html"))
    val staged = docs.select($"doc_id", $"source")
      .join(ext, Seq("doc_id"))
      .withColumn("norm", graft.text.TextNormalize.normalize($"kept"))
      .withColumn("nc", length($"norm").cast("long"))
      .withColumn("n_words",
        when($"nc" === 0, 0L).otherwise(size(split($"norm", " ")).cast("long")))
      // normalized text has single-space separators, so non-space chars
      // = nc - (n_words - 1); the mean-word-length micro is exact
      .withColumn("mw_micro",
        when($"n_words" === 0, 0L).otherwise(
          floor(lit(1e6) * ($"nc" - ($"n_words" - 1)) / $"n_words").cast("long")))
      .withColumn("nonempty", $"nc" > 0)
      .withColumn("gate",
        $"nonempty" && $"n_words" >= MinWords &&
        $"mw_micro".between(MwLoMicro, MwHiMicro))
    val ranked = staged.withColumn("rn",
      row_number().over(Window.partitionBy($"gate", md5($"norm"))
        .orderBy($"doc_id")))
    ranked.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when($"nonempty", 1L).otherwise(0L)).as("n_extracted"),
           sum(when($"gate", 1L).otherwise(0L)).as("n_gated"),
           sum(when($"gate" && $"rn" === 1, 1L).otherwise(0L)).as("n_unique"),
           sum(when($"gate" && $"rn" === 1, $"nc").otherwise(0L)).as("clean_chars"))
      .orderBy($"source")
  }

  /** DuckDB replay: the p43 plant/segment/verdict/render CTEs, the p42
    * normalization chain, the same gates, dedup window and funnel. */
  val oracleSql: String =
    s"""WITH planted AS (
         SELECT doc_id,
           '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
           '</title><style>p{margin:0}</style></head><body>' ||
           '<nav><a href=/h>Home</a> <a href=/a>About</a> <a href=/c>Contact</a></nav>' ||
           '<p>' || substring(text, 1, 60) || '</p>' ||
           '<div><a href=/x>Read more</a> <a href=/y>Click here</a> <a href=/z>subscribe now</a></div>' ||
           '<p>' || substring(text, 61, 1000000) ||
           ' see <a href=/ref>reference</a></p>' ||
           '<p>End.</p>' ||
           '<footer>Copyright 2026 Example Corp <a href=/tos>Terms</a></footer>' ||
           '</body></html>' AS html
         FROM documents),
       segs0 AS (
         SELECT doc_id, regexp_split_to_array(html, '</(p|div|nav|footer)>') AS ss
         FROM planted),
       segs AS (
         SELECT doc_id, unnest([{'pos': i, 'seg': ss[i]}
                                for i in range(1, len(ss) + 1)],
                               recursive := true)
         FROM segs0),
       blk AS (
         SELECT doc_id, pos,
           regexp_extract(seg, '(?s)^.*<(p|div|nav|footer)[^>]*>', 1) AS tag,
           trim(regexp_replace(regexp_replace(
             regexp_replace(seg, '(?s)^.*<(p|div|nav|footer)[^>]*>', ''),
             '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')) AS txt,
           length(array_to_string(regexp_extract_all(
             regexp_replace(seg, '(?s)^.*<(p|div|nav|footer)[^>]*>', ''),
             '<a[^>]*>([^<]*)</a>', 1), '')) AS link_chars
         FROM segs
         WHERE regexp_extract(seg, '(?s)^.*<(p|div|nav|footer)[^>]*>', 1) <> ''),
       verd AS (
         SELECT doc_id, pos, txt,
           CASE WHEN tag IN ('nav', 'footer') THEN 'nav_footer'
                WHEN CAST(floor(1e6 * link_chars / greatest(length(txt), 1)) AS BIGINT)
                     > ${HtmlExtract.LinkDenseMicro} THEN 'link_dense'
                WHEN length(txt) < ${HtmlExtract.MinChars} THEN 'too_short'
                ELSE 'content' END AS verdict
         FROM blk),
       ext AS (
         SELECT doc_id,
           coalesce(string_agg(txt, ' ' ORDER BY pos)
                      FILTER (WHERE verdict = 'content'), '') AS kept
         FROM verd GROUP BY doc_id),
       normed AS (
         SELECT d.source, e.doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(nfc_normalize(e.kept),
                   '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
                 '[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]', '', 'g'),
               '[\\x{00A0}\\x{2007}\\x{202F}]', ' ', 'g'),
             '\\s+', ' ', 'g')) AS norm
         FROM ext e JOIN documents d USING (doc_id)),
       flags AS (
         SELECT source, doc_id, norm,
           CAST(length(norm) AS BIGINT) AS nc,
           CASE WHEN length(norm) = 0 THEN 0
                ELSE CAST(len(string_split(norm, ' ')) AS BIGINT) END AS n_words
         FROM normed),
       gated AS (
         SELECT *,
           (nc > 0) AS nonempty,
           (nc > 0 AND n_words >= $MinWords AND
            CAST(floor(1e6 * (nc - (n_words - 1)) / n_words) AS BIGINT)
              BETWEEN $MwLoMicro AND $MwHiMicro) AS gate
         FROM flags),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY gate, md5(norm)
                     ORDER BY doc_id) AS rn
         FROM gated)
       SELECT source, count(*) AS n_docs,
         CAST(sum(CASE WHEN nonempty THEN 1 ELSE 0 END) AS BIGINT) AS n_extracted,
         CAST(sum(CASE WHEN gate THEN 1 ELSE 0 END) AS BIGINT) AS n_gated,
         CAST(sum(CASE WHEN gate AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         CAST(sum(CASE WHEN gate AND rn = 1 THEN nc ELSE 0 END) AS BIGINT) AS clean_chars
       FROM ranked
       GROUP BY source
       ORDER BY source"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p51_ingest_funnel", query, Some(oracleSql)))
}
