package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P62 (p62): FILL-IN-THE-MIDDLE (FIM) transformation — the
  * data-side half of infilling training (Bavarian et al. 2022,
  * "Efficient Training of Language Models to Fill in the Middle"; the
  * transform StarCoder/DeepSeek-Coder/code-davinci pipelines apply to
  * a fraction of documents): pick a middle span, reorder the document
  * as ‹PRE› prefix ‹SUF› suffix ‹MID› middle, and train on the result —
  * the model learns to infill conditioned on both sides. FIM is a pure
  * DATA transformation, so it belongs in the pipeline next to packing
  * (p17) and sequence assembly (p32), not in the trainer.
  *
  * Deterministic rule (the house md5 discipline — never rand(), which
  * would reshuffle spans across retries/partitions):
  *   - a doc is FIM-ELIGIBLE with rate 1/2: md5-bucket of doc_id, the
  *     m6/u18 hash-split idiom;
  *   - span selection on WORD positions: for an n-word doc, two cuts
  *     a < b derived from independent md5 buckets of (doc_id salted),
  *     a ∈ [0, n), b ∈ (a, n]; prefix = words[0,a), middle = words[a,b),
  *     suffix = words[b,n) — middle is never empty, prefix/suffix may be
  *     (the published PSM layout handles both);
  *   - output in SPM-vs-PSM terms: PSM (prefix-suffix-middle), the
  *     variant the paper found strictly better for joint training.
  *
  * The record carries the rendered PSM text's md5 plus the three span
  * lengths, so the hash gate certifies cut placement AND the reorder,
  * word for word, on every document. Scale shape: one narrow pass over
  * the doc table (split → slice → concat — all codegen HOFs, zero
  * shuffle, zero UDFs); the per-doc output feeds p17's packer
  * unchanged. At 100 TB this is ingest-rate row-local work.
  */
object FimTransform {

  val SentPre = "<fim_prefix>"
  val SentSuf = "<fim_suffix>"
  val SentMid = "<fim_middle>"

  private def bucket(salt: String): org.apache.spark.sql.Column =
    conv(substring(md5(concat(col("doc_id").cast("string"), lit(salt))), 1, 8), 16, 10)
      .cast("long")

  /** p62: per-doc FIM record — eligibility, cut positions, span word
    * counts, and the md5 of the rendered PSM document (or of the
    * unchanged text for pass-through docs). */
  def query(spark: SparkSession, dir: String): DataFrame =
    transform(Tables.documents(spark, dir))

  /** Frame-based core of [[query]] over a (doc_id, text) frame —
    * separated so specs can inject edge docs (empty text). */
  private[graft] def transform(docsIn: DataFrame): DataFrame = {
    val spark = docsIn.sparkSession
    import spark.implicits._
    val docs = docsIn
      .select($"doc_id", graft.text.TextAnalysis.tokens($"text").as("w"))
      .withColumn("n", size($"w"))
      // n >= 1 always (split of "" is [""]) — the n > 0 guards make the
      // zero-word contract explicit rather than relying on null-propagation
      .withColumn("fim", bucket("fim?") % 2 === 0 && $"n" > 0)
      // a ∈ [0, n), b ∈ (a, n]: middle never empty
      .withColumn("a", when($"n" > 0, bucket("fim-a") % $"n").cast("int"))
      .withColumn("b", when($"n" > 0,
        $"a" + lit(1) + bucket("fim-b") % ($"n" - $"a")).cast("int"))
    docs.select($"doc_id", $"fim", $"n".cast("long").as("n_words"),
        when($"fim", $"a".cast("long")).as("cut_a"),
        when($"fim", $"b".cast("long")).as("cut_b"),
        when($"fim",
          md5(concat_ws(" ",
            concat(array(lit(SentPre)), slice($"w", lit(1), $"a"),
                   array(lit(SentSuf)), slice($"w", $"b" + 1, $"n" - $"b"),
                   array(lit(SentMid)), slice($"w", $"a" + 1, $"b" - $"a")))))
          .otherwise(md5(concat_ws(" ", $"w"))).as("rendered_md5"))
      .orderBy($"doc_id")
  }

  /** DuckDB replay: same md5 buckets, same cuts, same PSM render via
    * list slicing. */
  val oracleSql: String =
    s"""WITH d AS (
         SELECT doc_id, string_split_regex(text, '\\s+') AS w,
           len(string_split_regex(text, '\\s+')) AS n,
           (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'fim?'), 1, 8)) AS BIGINT) % 2 = 0) AS fim,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'fim-a'), 1, 8)) AS BIGINT) AS ha,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'fim-b'), 1, 8)) AS BIGINT) AS hb
         FROM documents),
       c AS (
         SELECT doc_id, fim, n, ha % n AS a, (ha % n) + 1 + (hb % (n - (ha % n))) AS b, w
         FROM d)
       SELECT doc_id, fim, CAST(n AS BIGINT) AS n_words,
         CASE WHEN fim THEN CAST(a AS BIGINT) END AS cut_a,
         CASE WHEN fim THEN CAST(b AS BIGINT) END AS cut_b,
         CASE WHEN fim THEN
           md5(array_to_string(
             ['$SentPre'] || w[1 : a] || ['$SentSuf'] || w[b + 1 : n]
               || ['$SentMid'] || w[a + 1 : b], ' '))
         ELSE md5(array_to_string(w, ' ')) END AS rendered_md5
       FROM c
       ORDER BY doc_id"""

  // p62: md5 buckets, cuts and PSM render replayed via list slicing
  def specs: Seq[QuerySpec] = Seq(QuerySpec("p62_fim_transform", query, Some(oracleSql)))
}
