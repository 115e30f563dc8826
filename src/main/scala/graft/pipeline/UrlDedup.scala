package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P44: URL canonicalization + URL-keyed dedup — the cheapest and
  * most-used dedup layer in web corpora (the same page is crawled via
  * http/HTTP, with/without www, with tracking params, fragments,
  * default ports and trailing slashes; canonicalize first, then P1-style
  * keyed dedup on the canonical URL).
  *
  * Canonicalization rules (all row-local regex/column algebra in the
  * shared Java-regex/RE2 subset — no replacement backreferences, which
  * the two engines spell differently):
  *   1. strip the fragment;
  *   2. strip tracking parameters (utm_*, gclid, fbclid);
  *   3. lowercase scheme + authority (path case is PRESERVED — paths
  *      are case-sensitive);
  *   4. strip a www. prefix;
  *   5. strip the default port :80;
  *   6. strip a trailing slash (also before the query string).
  *
  * The corpus has no URL column, so the query plants deterministic
  * doc_id-derived messy URLs (p21 pattern): doc_id % 100 defines the
  * true page (host, path, real query param), and doc_id-driven noise
  * varies scheme case, www, host case, port, slash, tracking params and
  * fragments — so ~5 docs per page at sf0.01 canonicalize to one URL
  * with different raw renderings. The oracle replays plant + rules.
  *
  * Scale shape: canonicalization is a narrow map; the dedup is ONE
  * window/aggregation keyed on canonical URL — at 100 TB this is the
  * P1 exact-dedup plan with a cheaper key.
  */
object UrlDedup {

  /** Canonicalization chain — reusable on any URL column. */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag  = regexp_replace(u, "#.*$", "")
    val noTrack = regexp_replace(noFrag, "[?&](utm_[a-z]+|gclid|fbclid)=[^&]*", "")
    // lowercase ONLY scheme://authority (everything before the first
    // path slash); concat(lower(head), tail) avoids replacement groups
    val headPat = "^[^/]*//[^/]*"
    val lowHead = concat(lower(regexp_extract(noTrack, headPat, 0)),
                         regexp_replace(noTrack, headPat, ""))
    val noWww  = regexp_replace(lowHead, "://www\\.", "://")
    val noPort = regexp_replace(regexp_replace(
      regexp_replace(noWww, ":80/", "/"), ":80\\?", "?"), ":80$", "")
    regexp_replace(regexp_replace(noPort, "/\\?", "?"), "/$", "")
  }

  /** Deterministic messy URL per doc: doc_id % 100 is the true page. */
  private[pipeline] def withPlantedUrl(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val gid = d % 100
    val hostMess = when(d % 5 === 0,
        concat(lit("News-Site"), (gid % 10).cast("string"), lit(".Example.COM")))
      .otherwise(concat(lit("news-site"), (gid % 10).cast("string"), lit(".example.com")))
    val sep = when(gid % 2 === 0, lit("&")).otherwise(lit("?"))
    val track = when(d % 4 === 0,
        concat(sep, lit("utm_source=rss&utm_campaign=c"), d.cast("string")))
      .when(d % 4 === 2, concat(sep, lit("gclid=g"), d.cast("string")))
      .otherwise(lit(""))
    docs.withColumn("url", concat(
      when(d % 2 === 0, lit("HTTP://")).otherwise(lit("http://")),
      when(d % 3 === 0, lit("WWW.")).otherwise(lit("")),
      hostMess,
      when(d % 3 === 1, lit(":80")).otherwise(lit("")),
      lit("/Articles/Item"), gid.cast("string"),
      when(d % 7 === 0, lit("/")).otherwise(lit("")),
      when(gid % 2 === 0, concat(lit("?id="), gid.cast("string"))).otherwise(lit("")),
      track,
      when(d % 5 === 2, lit("#Section-2")).otherwise(lit(""))))
  }

  /** p44: per-doc dedup decision record — raw URL, canonical URL, the
    * kept (min) doc_id of the canonical group, dup flag, group size. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"canon_url")
    withPlantedUrl(Tables.documents(spark, dir))
      .select($"doc_id", $"url", canonicalizeUrl($"url").as("canon_url"))
      .select($"doc_id", $"url", $"canon_url",
        min($"doc_id").over(w).as("kept_doc_id"),
        count(lit(1)).over(w).as("n_group"))
      .withColumn("is_dup", $"doc_id" =!= $"kept_doc_id")
      .orderBy($"doc_id")
  }

  /** DuckDB replay: identical plant, identical rule chain ('g' flag —
    * Spark's regexp_replace is global by default), same window dedup. */
  val oracleSql: String =
    """WITH planted AS (
         SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END) ||
           (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
           (CASE WHEN doc_id % 5 = 0
                 THEN 'News-Site' || CAST((doc_id % 100) % 10 AS VARCHAR) || '.Example.COM'
                 ELSE 'news-site' || CAST((doc_id % 100) % 10 AS VARCHAR) || '.example.com' END) ||
           (CASE WHEN doc_id % 3 = 1 THEN ':80' ELSE '' END) ||
           '/Articles/Item' || CAST(doc_id % 100 AS VARCHAR) ||
           (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END) ||
           (CASE WHEN (doc_id % 100) % 2 = 0
                 THEN '?id=' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END) ||
           (CASE WHEN doc_id % 4 = 0
                 THEN (CASE WHEN (doc_id % 100) % 2 = 0 THEN '&' ELSE '?' END)
                      || 'utm_source=rss&utm_campaign=c' || CAST(doc_id AS VARCHAR)
                 WHEN doc_id % 4 = 2
                 THEN (CASE WHEN (doc_id % 100) % 2 = 0 THEN '&' ELSE '?' END)
                      || 'gclid=g' || CAST(doc_id AS VARCHAR)
                 ELSE '' END) ||
           (CASE WHEN doc_id % 5 = 2 THEN '#Section-2' ELSE '' END) AS url
         FROM documents),
       canon AS (
         SELECT doc_id, url,
           regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(
               lower(regexp_extract(
                 regexp_replace(regexp_replace(url, '#.*$', '', 'g'),
                                '[?&](utm_[a-z]+|gclid|fbclid)=[^&]*', '', 'g'),
                 '^[^/]*//[^/]*'))
               || regexp_replace(
                    regexp_replace(regexp_replace(url, '#.*$', '', 'g'),
                                   '[?&](utm_[a-z]+|gclid|fbclid)=[^&]*', '', 'g'),
                    '^[^/]*//[^/]*', '', 'g'),
               '://www\.', '://', 'g'),
             ':80/', '/', 'g'), ':80\?', '?', 'g'),
           '/\?', '?', 'g') AS c0
         FROM planted),
       canon2 AS (
         SELECT doc_id, url,
           regexp_replace(regexp_replace(c0, ':80$', '', 'g'), '/$', '', 'g') AS canon_url
         FROM canon)
       SELECT doc_id, url, canon_url,
         min(doc_id) OVER (PARTITION BY canon_url) AS kept_doc_id,
         count(*) OVER (PARTITION BY canon_url) AS n_group,
         doc_id != min(doc_id) OVER (PARTITION BY canon_url) AS is_dup
       FROM canon2
       ORDER BY doc_id"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p44_url_dedup", query, Some(oracleSql)))
}
