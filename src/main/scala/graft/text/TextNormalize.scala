package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}
import graft.functions.GraftFunctions

/** §2.3 P42: Unicode/text normalization — the FIRST operator of any real
  * ingest pipeline, ahead of every dedup/quality op: the same text in
  * composed vs decomposed form (é vs e+U+0301) defeats exact dedup, md5
  * fingerprints, shingle hashing and token matching unless everything is
  * normalized first.
  *
  * Chain (all row-local column algebra — zero shuffle, whole-stage
  * codegen, scan-speed at 100 TB):
  *   1. NFC canonical composition (native codegen `unicode_normalize`
  *      expression — Spark has no builtin);
  *   2. control-character strip (C0 controls minus \t\n\r, plus DEL);
  *   3. zero-width/format-character strip (ZWSP/ZWNJ/ZWJ/BOM);
  *   4. Unicode-space canonicalization (NBSP family → ASCII space);
  *   5. whitespace collapse + trim.
  *
  * The synthetic corpus is clean ASCII, so the query plants
  * deterministic doc_id-derived mess first (the p21 PII pattern):
  * decomposed accents, NBSP, control chars, a zero-width space and a
  * vertical tab — the oracle replays the identical plant, so the gate
  * grades normalization on known ground truth. Both regex steps stay in
  * the shared Java-regex/RE2 subset.
  */
object TextNormalize {

  /** C0 controls except \t \n \r, plus DEL — stripped outright. */
  val ControlRe = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
  /** Zero-width + BOM format characters — invisible token poison. */
  val FormatRe = "[\\u200B\\u200C\\u200D\\uFEFF]"
  /** Non-ASCII spaces (NBSP, figure space, narrow NBSP) → ASCII space. */
  val SpaceRe = "[\\u00A0\\u2007\\u202F]"

  /** The full normalization chain as a reusable Column transform. */
  def normalize(raw: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(GraftFunctions.unicode_normalize(raw, "NFC"),
            ControlRe, ""),
          FormatRe, ""),
        SpaceRe, " "),
      "\\s+", " "))

  /** Deterministic doc_id-derived unicode mess: decomposed accents (NFC
    * composes them), NBSP, zero-width space, vertical tab everywhere;
    * C0 controls on every third doc so both plant branches are hit. */
  private[text] def withPlantedMess(docs: DataFrame): DataFrame =
    docs.withColumn("raw", concat(
      when(col("doc_id") % 3 === 0, lit("\u0007\u001F")).otherwise(lit("")),
      lit("Cafe\u0301\u00A0nai\u0308ve  "),
      substring(col("text"), 1, 60),
      lit("\u200B x"), col("doc_id").cast("string"),
      lit("\u000B tail  ")))

  /** p42: normalize the planted corpus; per-doc decision record — raw
    * and normalized codepoint counts, planted-control count, and the md5
    * of the normalized text (fully discriminating). */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withPlantedMess(Tables.documents(spark, dir))
      .select($"doc_id",
        length($"raw").cast("long").as("raw_chars"),
        regexp_count($"raw", lit(ControlRe)).cast("long").as("n_controls"),
        normalize($"raw").as("norm"))
      .select($"doc_id", $"raw_chars", $"n_controls",
        length($"norm").cast("long").as("norm_chars"),
        md5($"norm").as("norm_md5"))
      .orderBy($"doc_id")
  }

  /** DuckDB replay: identical plant (chr() codepoints), nfc_normalize,
    * and the same regex chain (RE2 \x{...} classes ≡ the Java \uXXXX
    * classes above). */
  val oracleSql: String =
    """WITH planted AS (
         SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN chr(7) || chr(31) ELSE '' END ||
           'Cafe' || chr(769) || chr(160) || 'nai' || chr(776) || 've  ' ||
           substring(text, 1, 60) ||
           chr(8203) || ' x' || CAST(doc_id AS VARCHAR) ||
           chr(11) || ' tail  ' AS raw
         FROM documents),
       norm AS (
         SELECT doc_id, raw,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(nfc_normalize(raw),
                   '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                 '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
               '[\x{00A0}\x{2007}\x{202F}]', ' ', 'g'),
             '\s+', ' ', 'g')) AS n
         FROM planted)
       SELECT doc_id,
         CAST(length(raw) AS BIGINT) AS raw_chars,
         CAST(len(regexp_extract_all(raw, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]')) AS BIGINT) AS n_controls,
         CAST(length(n) AS BIGINT) AS norm_chars,
         md5(n) AS norm_md5
       FROM norm
       ORDER BY doc_id"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p42_text_normalize", query, Some(oracleSql)))
}
