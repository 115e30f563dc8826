package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P50: TOKENIZED-SHARD EXPORT — the artifact a data pipeline
  * actually ships to the trainer: documents encoded to token IDS under
  * the learned vocabulary, concatenated in a deterministic order, and
  * cut into fixed-size binary shards (the `.bin`/memmap layout every
  * LLM training loop consumes). This is the capstone after p39 (train
  * tokenizer) → p39b (encode) → p17 (packing): same merges, same
  * packing rule, but producing the byte-exact shard payloads.
  *
  * ID assignment: the vocabulary is the distinct symbol set after the
  * learned merges; ids are the dense rank of the token string — a pure
  * function of the vocabulary, so both engines derive identical ids
  * with no side table to ship. Each id renders as 4 hex chars (uint16
  * big-endian — the vocab is bounded at 2¹⁶ by construction here); a
  * shard's payload is the concatenation of its documents' id streams
  * in document order, certified by md5.
  *
  * Scale shape: encoding is per-DISTINCT-WORD (p39b's word cache);
  * the id table is vocabulary-sized and broadcast; sharding is p17's
  * per-source exclusive-running-count window (a doc belongs to the
  * shard where it STARTS — no global order, parallel by source); the
  * shard render is one (source, shard)-keyed aggregation using the
  * p32/p33 position-sorted collect. At 100 TB every shuffle is keyed
  * on word, doc or shard — and shard payloads stream out per group,
  * never through the driver.
  */
object TokenShards {

  val ShardTokens = 4096L

  /** p50: per-shard export record — (source, shard_idx, n_docs,
    * n_tokens, shard_md5). */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val merges = graft.text.BpeVocab.mergeTable(spark, dir).orderBy($"step")
      .select($"left", $"right").as[(String, String)].collect()
    val docWords = Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        posexplode(split($"text", "\\s+")).as(Seq("pos", "word")))
    // one typed word-cache pass — plan size independent of the merge
    // count (the encodeWords shape shared with p39b/p39c)
    val encoded = graft.text.BpeVocab
      .encodeWords(docWords.select($"word").distinct(), merges)
      .persist()
    // vocabulary ids: dense rank of the token string — vocabulary-sized
    val ids = encoded.select(explode($"sym").as("token")).distinct()
      .withColumn("id", (row_number().over(Window.orderBy($"token")) - 1).cast("int"))
    // per-word id hex (tokens in word order) + token count
    val wordHex = encoded
      .select($"word", posexplode($"sym").as(Seq("tpos", "token")))
      .join(broadcast(ids), Seq("token"))
      .groupBy($"word")
      .agg(concat_ws("", transform(
             array_sort(collect_list(struct($"tpos", format_string("%04x", $"id").as("hx")))),
             s => s.getField("hx"))).as("whex"),
           count(lit(1)).cast("long").as("wtok"))
    // per-doc id stream in position order
    val docStream = docWords.join(wordHex, Seq("word"))
      .groupBy($"source", $"doc_id")
      .agg(concat_ws("", transform(
             array_sort(collect_list(struct($"pos", $"whex"))),
             s => s.getField("whex"))).as("dhex"),
           sum($"wtok").as("n_tokens"))
    // p17 packing: a doc belongs to the shard where it STARTS
    val wRun = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docStream
      .withColumn("start_tok", coalesce(sum($"n_tokens").over(wRun), lit(0L)))
      .withColumn("shard_idx", expr(s"start_tok div $ShardTokens"))
      .groupBy($"source", $"shard_idx")
      .agg(count(lit(1)).as("n_docs"),
           sum($"n_tokens").as("n_tokens"),
           md5(concat_ws("", transform(
             array_sort(collect_list(struct($"doc_id", $"dhex"))),
             s => s.getField("dhex")))).as("shard_md5"))
      .orderBy($"source", $"shard_idx")
  }

  /** DuckDB replay: the p39 merge chain + v-chain (p39b's), dense-rank
    * id assignment, per-word/per-doc hex renders, the p17 packing
    * window, per-shard md5. */
  val oracleSql: String = {
    val m = graft.text.BpeVocab.Merges
    def round(i: Int): String = {
      val prev = if (i == 1) "w0" else s"w${i - 1}"
      s"""p$i AS (
           SELECT pr[1] AS l, pr[2] AS r, sum(cnt) AS c FROM (
             SELECT unnest(list_zip(sym[:-2], sym[2:])) AS pr, cnt FROM $prev) t
           GROUP BY 1, 2),
         m$i AS (
           SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
         w$i AS (
           SELECT list_reduce(list_transform(sym, x -> [x]),
             (acc, x) -> CASE WHEN acc[-1] = m$i.l AND x[1] = m$i.r
                              THEN acc[:-2] || [acc[-1] || x[1]]
                              ELSE acc || x END) AS sym, cnt
           FROM $prev, m$i)"""
    }
    def vround(i: Int): String = {
      val prev = if (i == 1) "v0" else s"v${i - 1}"
      s"""v$i AS (
           SELECT word, list_reduce(list_transform(sym, x -> [x]),
             (acc, x) -> CASE WHEN acc[-1] = m$i.l AND x[1] = m$i.r
                              THEN acc[:-2] || [acc[-1] || x[1]]
                              ELSE acc || x END) AS sym
           FROM $prev, m$i)"""
    }
    val rounds = (1 to m).map(round).mkString(",\n       ")
    val vrounds = (1 to m).map(vround).mkString(",\n       ")
    s"""WITH w0 AS (
         SELECT regexp_split_to_array(word, '') || ['</w>'] AS sym, cnt FROM (
           SELECT word, count(*) AS cnt FROM (
             SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word
             FROM documents) t GROUP BY 1)),
       $rounds,
       v0 AS (
         SELECT word, regexp_split_to_array(word, '') || ['</w>'] AS sym FROM (
           SELECT DISTINCT unnest(regexp_split_to_array(text, '\\s+')) AS word
           FROM documents) t),
       $vrounds,
       ids AS (
         SELECT token, CAST(row_number() OVER (ORDER BY token) - 1 AS INTEGER) AS id
         FROM (SELECT DISTINCT unnest(sym) AS token FROM v$m) t),
       wexp0 AS (
         SELECT word, [{'tpos': i, 'token': sym[i]} for i in range(1, len(sym) + 1)] AS tp
         FROM v$m),
       wexp AS (SELECT word, unnest(tp, recursive := true) FROM wexp0),
       wordhex AS (
         SELECT wexp.word,
           string_agg(printf('%04x', ids.id), '' ORDER BY wexp.tpos) AS whex,
           count(*) AS wtok
         FROM wexp JOIN ids ON wexp.token = ids.token
         GROUP BY wexp.word),
       dw0 AS (
         SELECT doc_id, source,
           [{'pos': i, 'word': w[i]} for i in range(1, len(w) + 1)] AS ws
         FROM (SELECT doc_id, source, regexp_split_to_array(text, '\\s+') AS w
               FROM documents)),
       dw AS (SELECT doc_id, source, unnest(ws, recursive := true) FROM dw0),
       docstream AS (
         SELECT source, dw.doc_id,
           string_agg(wordhex.whex, '' ORDER BY dw.pos) AS dhex,
           CAST(sum(wordhex.wtok) AS BIGINT) AS n_tokens
         FROM dw JOIN wordhex ON dw.word = wordhex.word
         GROUP BY source, dw.doc_id),
       packed AS (
         SELECT source, doc_id, dhex, n_tokens,
           coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
         FROM docstream)
       SELECT source,
         CAST(start_tok // $ShardTokens AS BIGINT) AS shard_idx,
         count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         md5(string_agg(dhex, '' ORDER BY doc_id)) AS shard_md5
       FROM packed
       GROUP BY source, shard_idx
       ORDER BY source, shard_idx"""
  }

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p50_token_shards", query, Some(oracleSql)))
}
