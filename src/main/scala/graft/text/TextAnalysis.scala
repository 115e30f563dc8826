package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P8–P11: text analysis over a corpus with a `text` column.
  *
  * Everything here is pure Catalyst column algebra (split / higher-order
  * functions / regexp) — codegen'd, no UDFs, so the ops scale linearly
  * over any number of partitions with zero shuffle (per-row transforms).
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** BPE-ish subword proxy: word chunks + isolated non-word glyphs. */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0))

  /** Per-language stopword lists (top function words; public knowledge).
    * Kept tiny so the SQL oracle can mirror them verbatim. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "dans", "est", "pour"),
    "es" -> Seq("el", "los", "las", "y", "que", "una", "en", "es", "para", "por"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "nicht", "mit", "zu"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "就", "不", "人"),
  )

  private def arrayLit(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("array(", ", ", ")")

  /** Count of tokens hitting a stopword list (each occurrence counts). */
  def stopwordHits(toksCol: String, ws: Seq[String]): Column =
    expr(s"size(filter($toksCol, x -> array_contains(${arrayLit(ws)}, x)))")

  /** P8: language ID — stopword-hit score per language, priority-ordered
    * argmax (list order breaks ties), 'und' when nothing hits. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val withScores = Tables.documents(spark, dir)
      .withColumn("toks", tokens($"text"))
      .withColumns(stopwords.map { case (l, ws) =>
        // cast long: DuckDB len() is BIGINT, Spark size() is INT
        s"score_$l" -> stopwordHits("toks", ws).cast("long")
      }.toMap)
    val langs = stopwords.map(_._1)
    // priority argmax: first language whose score >= all later ones
    val pred = langs.zipWithIndex.foldRight(lit("und")) { case ((l, i), els) =>
      val geAllLater = langs.drop(i + 1)
        .map(o => col(s"score_$l") >= col(s"score_$o"))
        .foldLeft(col(s"score_$l") > 0)(_ && _)
      when(geAllLater, lit(l)).otherwise(els)
    }
    withScores
      .select($"doc_id" +: $"lang" +: langs.map(l => col(s"score_$l")) :+ pred.as("lang_pred"): _*)
      .orderBy($"doc_id")
  }

  /** P9: quality scoring — length / distinctness / stopword-density
    * signals blended into one score. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("toks", tokens($"text"))
      .withColumn("n_tokens", size($"toks"))
      .withColumn("n_distinct", size(array_distinct($"toks")))
      .withColumn("avg_token_len",
        round(expr("aggregate(transform(toks, x -> length(x)), 0, (acc, x) -> acc + x)") /
              $"n_tokens", 6))
      .withColumn("distinct_ratio", round($"n_distinct" / $"n_tokens", 6))
      .withColumn("stopword_ratio",
        round(stopwordHits("toks", stopwords.head._2) / $"n_tokens", 6))
      .withColumn("quality_score",
        round(lit(0.4) * ($"n_distinct" / $"n_tokens") +
              lit(0.3) * (lit(1.0) - stopwordHits("toks", stopwords.head._2) / $"n_tokens") +
              lit(0.3) * least(lit(1.0), $"n_tokens" / 100.0), 6))
      .select($"doc_id", length($"text").cast("long").as("n_chars_calc"),
              $"n_tokens".cast("long"), $"n_distinct".cast("long"),
              $"avg_token_len", $"distinct_ratio",
              $"stopword_ratio", $"quality_score")
      .orderBy($"doc_id")
  }

  /** P10: token counting — whitespace + BPE-ish regex counts. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
              size(tokens($"text")).cast("long").as("ws_tokens"),
              size(bpeTokens($"text")).cast("long").as("bpe_tokens"))
      .orderBy($"doc_id")
  }

  /** P11 (SQL-mirrored variant): order/duplication-insensitive content
    * fingerprint — md5 of the sorted distinct token bag. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
              md5(array_join(array_sort(array_distinct(tokens($"text"))), " "))
                .as("fp"))
      .orderBy($"doc_id")
  }

  /** P11 (native variant, spec-tested): winnowing-style shingle min-hash —
    * murmur3 over each 3-token shingle, keep the minimum. Engine-local
    * (no SQL oracle; Spark's hash() is murmur3 with Spark's seeding). */
  def shingleMinHash(df: DataFrame, textCol: String = "text", k: Int = 3): DataFrame =
    df.withColumn("toks", tokens(col(textCol)))
      .withColumn("fp_min",
        expr(s"array_min(transform(sequence(0, greatest(size(toks) - $k, 0)), " +
             s"i -> hash(concat_ws(' ', slice(toks, i + 1, $k)))))"))
      .drop("toks")

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("p8_lang_id", langId, Some(
      """SELECT doc_id, lang, score_en, score_fr, score_es, score_de, score_zh,
         CASE WHEN score_en > 0 AND score_en >= score_fr AND score_en >= score_es AND score_en >= score_de AND score_en >= score_zh THEN 'en'
              WHEN score_fr > 0 AND score_fr >= score_es AND score_fr >= score_de AND score_fr >= score_zh THEN 'fr'
              WHEN score_es > 0 AND score_es >= score_de AND score_es >= score_zh THEN 'es'
              WHEN score_de > 0 AND score_de >= score_zh THEN 'de'
              WHEN score_zh > 0 THEN 'zh' ELSE 'und' END AS lang_pred
         FROM (SELECT doc_id, lang,
          len(list_filter(regexp_split_to_array(text, '\s+'), x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) AS score_en,
          len(list_filter(regexp_split_to_array(text, '\s+'), x -> list_contains(['le','la','les','de','et','un','une','dans','est','pour'], x))) AS score_fr,
          len(list_filter(regexp_split_to_array(text, '\s+'), x -> list_contains(['el','los','las','y','que','una','en','es','para','por'], x))) AS score_es,
          len(list_filter(regexp_split_to_array(text, '\s+'), x -> list_contains(['der','die','das','und','ein','eine','ist','nicht','mit','zu'], x))) AS score_de,
          len(list_filter(regexp_split_to_array(text, '\s+'), x -> list_contains(['的','是','在','了','我','有','和','就','不','人'], x))) AS score_zh
          FROM documents) t
         ORDER BY doc_id""")),
    QuerySpec("p9_quality", quality, Some(
      """SELECT doc_id, length(text) AS n_chars_calc, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         round(list_sum(list_transform(toks, x -> length(x))) / len(toks), 6) AS avg_token_len,
         round(len(list_distinct(toks)) / len(toks), 6) AS distinct_ratio,
         round(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) / len(toks), 6) AS stopword_ratio,
         round(0.4 * (len(list_distinct(toks)) / len(toks)) +
               0.3 * (1.0 - len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) / len(toks)) +
               0.3 * least(1.0, len(toks) / 100.0), 6) AS quality_score
         FROM (SELECT doc_id, text, regexp_split_to_array(text, '\s+') AS toks FROM documents) t
         ORDER BY doc_id""")),
    QuerySpec("p10_token_counts", tokenCounts, Some(
      """SELECT doc_id, len(regexp_split_to_array(text, '\s+')) AS ws_tokens,
         len(regexp_extract_all(text, '\w+|[^\w\s]')) AS bpe_tokens
         FROM documents ORDER BY doc_id""")),
    QuerySpec("p11_fingerprint", fingerprint, Some(
      """SELECT doc_id, md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(text, '\s+'))), ' ')) AS fp
         FROM documents ORDER BY doc_id""")))
}
