package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P43: intra-document HTML/markup boilerplate stripping — the
  * trafilatura-class main-content extraction step that precedes p23's
  * cross-document boilerplate detection in any web-corpus ingest.
  *
  * Rule engine (deterministic, both-engine replayable):
  *   1. segment the markup into blocks on closing block-level tags;
  *   2. per block: the element tag, the tag-stripped text, the anchor
  *      text mass;
  *   3. verdicts in precedence order — structural boilerplate
  *      (nav/footer), link-dense (anchor chars / text chars > 0.4, the
  *      classic link-density rule), too-short (< 15 chars), else
  *      content;
  *   4. re-render the kept blocks in document order.
  *
  * Scale shape: segmentation, rules and per-block metrics are row-local
  * regex/column algebra over the exploded block stream; the only shuffle
  * is the doc_id-keyed re-render aggregation (order-independent via the
  * p32/p33 collect_list(struct(pos,…)) + array_sort pattern). At 100 TB
  * this is one narrow pass + one keyed aggregation at ingest rate.
  *
  * The corpus is plain text, so the query plants a deterministic HTML
  * page around each document first (p21 pattern): head/style noise, a
  * nav bar, the doc text as <p> content split in two, a link-farm <div>,
  * a trailing short <p> and a footer — the oracle replays the identical
  * plant, so extraction is graded on known ground truth, and the second
  * <p>'s verdict genuinely varies by doc (short docs turn it
  * link-dense).
  */
object HtmlExtract {

  /** Block-level elements recognized by the segmenter. */
  val BlockClose = "</(p|div|nav|footer)>"
  val LastOpen   = "(?s)^.*<(p|div|nav|footer)[^>]*>"
  val AnchorText = "<a[^>]*>([^<]*)</a>"
  val AnyTag     = "<[^>]*>"

  /** Link-density drop threshold (integer millionths) and minimum kept
    * block length — the standard trafilatura/jusText-style knobs. */
  val LinkDenseMicro = 400000L
  val MinChars = 15

  /** Deterministic planted page: head noise, nav, content split across
    * two <p> blocks (the second with one inline link), a link-farm div,
    * a too-short block, a footer. */
  private[pipeline] def withPlantedHtml(docs: DataFrame): DataFrame =
    docs.withColumn("html", concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>p{margin:0}</style></head><body>"),
      lit("<nav><a href=/h>Home</a> <a href=/a>About</a> <a href=/c>Contact</a></nav>"),
      lit("<p>"), substring(col("text"), 1, 60), lit("</p>"),
      lit("<div><a href=/x>Read more</a> <a href=/y>Click here</a> <a href=/z>subscribe now</a></div>"),
      lit("<p>"), substring(col("text"), 61, 1000000),
      lit(" see <a href=/ref>reference</a></p>"),
      lit("<p>End.</p>"),
      lit("<footer>Copyright 2026 Example Corp <a href=/tos>Terms</a></footer>"),
      lit("</body></html>")))

  private def collapse(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  /** (doc_id, kept) — the extracted main text alone, for pipeline
    * composition (p51 chains it into normalization and dedup). */
  def extractedText(pages: DataFrame): DataFrame = {
    import pages.sparkSession.implicits._
    blocksOf(pages).groupBy($"doc_id")
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(when($"verdict" === "content",
          struct($"pos", $"txt")))),
        s => s.getField("txt"))).as("kept"))
  }

  /** The segmented, verdict-annotated block stream shared by
    * [[extractFrom]] and [[extractedText]]. */
  private def blocksOf(pages: DataFrame): DataFrame = {
    import pages.sparkSession.implicits._
    pages
      .select($"doc_id", posexplode(split($"html", BlockClose)).as(Seq("pos", "seg")))
      .withColumn("tag", regexp_extract($"seg", LastOpen, 1))
      .filter($"tag" =!= "")
      .withColumn("inner", regexp_replace($"seg", LastOpen, ""))
      .withColumn("txt", collapse(regexp_replace($"inner", AnyTag, " ")))
      .withColumn("link_chars",
        length(array_join(regexp_extract_all($"inner", lit(AnchorText), lit(1)), "")))
      .withColumn("ld_micro",
        floor(lit(1e6) * $"link_chars" / greatest(length($"txt"), lit(1))).cast("long"))
      .withColumn("verdict",
        when($"tag".isin("nav", "footer"), "nav_footer")
          .when($"ld_micro" > LinkDenseMicro, "link_dense")
          .when(length($"txt") < MinChars, "too_short")
          .otherwise("content"))
  }

  /** The extraction pipeline over any (doc_id, html) frame — exposed so
    * specs can grade handcrafted pages against hand-computed verdicts. */
  def extractFrom(pages: DataFrame): DataFrame = {
    import pages.sparkSession.implicits._
    blocksOf(pages).groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when($"verdict" === "nav_footer", 1L).otherwise(0L)).as("n_nav_footer"),
        sum(when($"verdict" === "link_dense", 1L).otherwise(0L)).as("n_link_dense"),
        sum(when($"verdict" === "too_short", 1L).otherwise(0L)).as("n_too_short"),
        sum(when($"verdict" === "content", 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when($"verdict" === "content",
            struct($"pos", $"txt")))),
          s => s.getField("txt"))).as("kept"))
      .select($"doc_id", $"n_blocks", $"n_nav_footer", $"n_link_dense",
        $"n_too_short", $"n_kept",
        length($"kept").cast("long").as("kept_chars"),
        md5($"kept").as("kept_md5"))
  }

  /** p43: strip planted markup; one decision record per document —
    * per-verdict block counts plus the md5 of the extracted main text. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    extractFrom(withPlantedHtml(Tables.documents(spark, dir))
        .select($"doc_id", $"html"))
      .orderBy($"doc_id")
  }

  /** DuckDB replay: identical plant, segmentation, block rules and
    * in-order re-render (string_agg ORDER BY pos FILTER content). */
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
                     > ${LinkDenseMicro} THEN 'link_dense'
                WHEN length(txt) < ${MinChars} THEN 'too_short'
                ELSE 'content' END AS verdict
         FROM blk)
       SELECT doc_id,
         count(*) AS n_blocks,
         CAST(sum(CASE WHEN verdict = 'nav_footer' THEN 1 ELSE 0 END) AS BIGINT) AS n_nav_footer,
         CAST(sum(CASE WHEN verdict = 'link_dense' THEN 1 ELSE 0 END) AS BIGINT) AS n_link_dense,
         CAST(sum(CASE WHEN verdict = 'too_short' THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
         CAST(sum(CASE WHEN verdict = 'content' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(length(coalesce(string_agg(txt, ' ' ORDER BY pos)
                                FILTER (WHERE verdict = 'content'), '')) AS BIGINT) AS kept_chars,
         md5(coalesce(string_agg(txt, ' ' ORDER BY pos)
                        FILTER (WHERE verdict = 'content'), '')) AS kept_md5
       FROM verd
       GROUP BY doc_id
       ORDER BY doc_id"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p43_html_extract", query, Some(oracleSql)))
}
