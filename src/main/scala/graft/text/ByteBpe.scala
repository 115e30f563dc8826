package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}

/** §2.3 P39d (p39d): BYTE-LEVEL BPE pretokenization + encode — the
  * GPT-2-class tokenizer front end (Radford et al. 2019; what GPT-2/
  * RoBERTa/Llama-3-class pipelines run before BPE): text is first
  * PRETOKENIZED by the published category regex, each pretoken's UTF-8
  * BYTES are mapped through the byte-to-unicode table (256 bytes →
  * 256 printable code points; byte 0x20 becomes the famous 'Ġ'), and
  * BPE merges are learned/applied over those byte symbols — so the
  * tokenizer NEVER meets an out-of-vocabulary character: any unicode,
  * emoji included, is at worst a few raw-byte tokens. The existing
  * word-cache machinery (p39's learnSym + applyMergesSeq) carries over
  * unchanged; only the pretokenizer and the symbol alphabet differ.
  *
  * Pretokenization = the GPT-2 regex's contraction + category branches
  * ('s|'t|'re|'ve|'m|'ll|'d | letters | numbers | other-non-space),
  * applied per whitespace-normalized word, with the GPT-2 leading-space
  * convention (a non-initial word's first piece carries its preceding
  * space, which byte-maps to Ġ). The regex's trailing-whitespace
  * branch `\s+(?!\S)` needs lookahead — which RE2 (DuckDB) cannot
  * express — so whitespace handling lives in the word stream instead:
  * runs of whitespace normalize to one space BEFORE pretokenization on
  * BOTH engines (the corpus-wide whitespace normalization every other
  * text operator here applies). Within non-space text the branch
  * semantics are exactly the published ones, in the published order
  * (leftmost-FIRST alternation — Java regex and non-POSIX RE2 agree).
  *
  * The per-doc record carries pretoken/token counts, the md5 of the
  * full rendered byte-token stream, and `roundtrip_ok`: the tokens are
  * DECODED back (inverse byte map over the concatenated symbols) and
  * must reproduce the normalized source text byte-for-byte — the
  * losslessness contract that is byte-level BPE's whole selling point
  * (spec-pinned on multibyte/emoji input the fixture lacks).
  *
  * Scale shape: pretokenization is one narrow codegen pass
  * (regexp_extract_all + posexplode); learning runs on the DISTINCT
  * pretoken table (vocabulary-sized, the p39 word-cache trick); encode
  * + decode are one typed mapPartitions over that table from a
  * broadcast merge array; one equi-join back to the corpus stream and
  * one doc-keyed render. Plan size is O(1) in merge count.
  */
object ByteBpe {

  /** GPT-2 byte→unicode: printable bytes map to themselves, the rest
    * to 256+n in byte order — a bijection, so decode is exact. */
  private[graft] val ByteToUnicode: Array[Char] = {
    val keep = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    val arr = new Array[Char](256)
    var n = 0
    for (b <- 0 to 255) {
      if (keep(b)) arr(b) = b.toChar
      else { arr(b) = (256 + n).toChar; n += 1 }
    }
    arr
  }

  private[graft] val UnicodeToByte: Map[Char, Int] =
    ByteToUnicode.zipWithIndex.map { case (c, b) => c -> b }.toMap

  /** The GPT-2 pretokenize regex, minus the RE2-inexpressible
    * whitespace-lookahead branch (see scaladoc): contractions first,
    * then letter / number / other-non-space runs. */
  val PretokRe = "'s|'t|'re|'ve|'m|'ll|'d|\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+"

  private[graft] def byteMap(s: String): String = {
    val bs = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Char](bs.length)
    var i = 0
    while (i < bs.length) { out(i) = ByteToUnicode(bs(i) & 0xff); i += 1 }
    new String(out)
  }

  private[graft] def byteUnmap(mapped: String): String = {
    val out = new Array[Byte](mapped.length)
    var i = 0
    while (i < mapped.length) {
      out(i) = UnicodeToByte.getOrElse(mapped.charAt(i),
        throw new IllegalArgumentException(
          s"byte-bpe: '${mapped.charAt(i)}' is not a mapped byte")).toByte
      i += 1
    }
    new String(out, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Byte symbols of a pretoken: one 1-char string per UTF-8 byte. */
  private[graft] def byteSyms(pretok: String): Array[String] =
    byteMap(pretok).toCharArray.map(_.toString)

  private def normText(text: Column): Column =
    trim(regexp_replace(text, "\\s+", " "))

  /** (doc_id, pos, pidx, pretok) — whitespace-normalized words split by
    * the category regex, leading space attached to each non-initial
    * word's first piece (the Ġ convention). One narrow codegen pass. */
  private[graft] def pretokens(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id", posexplode(split(normText($"text"), " ")).as(Seq("pos", "word")))
      .filter(length($"word") > 0)
      .select($"doc_id", $"pos",
        posexplode(regexp_extract_all($"word", lit(PretokRe), lit(0))).as(Seq("pidx", "piece")))
      .select($"doc_id", $"pos", $"pidx",
        when($"pos" > 0 && $"pidx" === 0, concat(lit(" "), $"piece"))
          .otherwise($"piece").as("pretok"))
  }

  /** p39d: learn Merges byte-level merges over the corpus pretokens,
    * encode, render per doc, certify the decode roundtrip. */
  def query(spark: SparkSession, dir: String): DataFrame =
    queryFrom(Tables.documents(spark, dir))

  private[graft] def queryFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pt = pretokens(docs)
    val ptCnt = pt.groupBy($"pretok").agg(count(lit(1)).as("cnt"))
    // learn over byte symbols (distinct-pretoken table, corpus-weighted)
    val merges = Materialize.scoped(ptCnt) {
      ptCnt.count()
      val symCnt = ptCnt.as[(String, Long)].mapPartitions { it =>
        it.map { case (p, n) => (byteSyms(p).toSeq, n) }
      }.toDF("sym", "cnt")
      BpeVocab.learnSym(symCnt, BpeVocab.Merges)
        .orderBy($"step").select($"left", $"right").as[(String, String)].collect()
    }
    // encode + decode each distinct pretoken in one typed pass
    val bc = spark.sparkContext.broadcast(merges)
    val encoded = ptCnt.select($"pretok").as[String].mapPartitions { it =>
      val ms = bc.value
      it.map { p =>
        val sym = BpeVocab.applyMergesSeq(byteSyms(p), ms)
        (p, sym.length.toLong, sym.mkString(" "), byteUnmap(sym.mkString("")))
      }
    }.toDF("pretok", "n_sym", "ts", "decoded")
    val norm = docs.select($"doc_id", md5(normText($"text")).as("src_md5"))
    pt.join(encoded, "pretok")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_pretokens"),
           sum($"n_sym").cast("long").as("n_tokens"),
           md5(concat_ws(" ",
             transform(array_sort(collect_list(struct($"pos", $"pidx", $"ts"))),
               s => s.getField("ts")))).as("tokens_md5"),
           md5(concat_ws("",
             transform(array_sort(collect_list(struct($"pos", $"pidx", $"decoded"))),
               s => s.getField("decoded")))).as("decoded_md5"))
      .join(norm, "doc_id")
      .withColumn("roundtrip_ok", $"decoded_md5" === $"src_md5")
      .select($"doc_id", $"n_pretokens", $"n_tokens", $"tokens_md5",
              $"decoded_md5", $"roundtrip_ok")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------
  // DuckDB oracle: byte mapping via hex(encode(.)), the same merge
  // learning/application CTE chains as p39/p39b over byte symbols,
  // decode via the inverse table + unhex, roundtrip against the
  // normalized source.
  // ---------------------------------------------------------------

  val oracleSql: String = {
    val m = BpeVocab.Merges
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
           SELECT pretok, list_reduce(list_transform(sym, x -> [x]),
             (acc, x) -> CASE WHEN acc[-1] = m$i.l AND x[1] = m$i.r
                              THEN acc[:-2] || [acc[-1] || x[1]]
                              ELSE acc || x END) AS sym
           FROM $prev, m$i)"""
    }
    val rounds = (1 to m).map(round).mkString(",\n       ")
    val vrounds = (1 to m).map(vround).mkString(",\n       ")
    val b2uList = ByteToUnicode.map(_.toInt).mkString("[", ", ", "]")
    val reSql = PretokRe.replace("'", "''") // SQL string-literal escaping
    s"""WITH b2u AS (SELECT $b2uList AS bm),
       docs0 AS (
         SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
         FROM documents),
       dw0 AS (
         SELECT doc_id, [{'pos': i - 1, 'word': wl[i]} for i in range(1, len(wl) + 1)] AS ws
         FROM (SELECT doc_id, string_split(norm, ' ') AS wl FROM docs0)),
       dw AS (SELECT * FROM (SELECT doc_id, unnest(ws, recursive := true) FROM dw0)
              WHERE len(word) > 0),
       pt AS MATERIALIZED (
         SELECT doc_id, pos, pidx,
                CASE WHEN pos > 0 AND pidx = 0 THEN ' ' || piece ELSE piece END AS pretok
         FROM (
           SELECT doc_id, pos,
                  unnest([{'pidx': i - 1, 'piece': ps[i]}
                          for i in range(1, len(ps) + 1)], recursive := true)
           FROM (SELECT doc_id, pos,
                        regexp_extract_all(word, '$reSql') AS ps
                 FROM dw))),
       mapd AS MATERIALIZED (
         SELECT pretok,
                array_to_string(
                  [chr(b2u.bm[CAST(('0x' || substr(hx, 2 * i - 1, 2)) AS INT) + 1])
                   for i in range(1, octet_length(encode(pretok)) + 1)], '') AS mapped
         FROM (SELECT DISTINCT pretok, hex(encode(pretok)) AS hx FROM pt), b2u),
       cnts AS (SELECT pretok, count(*) AS cnt FROM pt GROUP BY 1),
       w0 AS (
         SELECT regexp_split_to_array(mapped, '') AS sym, cnt
         FROM mapd JOIN cnts USING (pretok)),
       $rounds,
       v0 AS (SELECT pretok, regexp_split_to_array(mapped, '') AS sym FROM mapd),
       $vrounds,
       enc AS (
         SELECT v.pretok, v.sym,
                decode(unhex(array_to_string(
                  [printf('%02x', list_position(b2u.bm, unicode(ch)) - 1)
                   for ch in regexp_split_to_array(array_to_string(v.sym, ''), '')],
                  ''))) AS decoded
         FROM v$m v, b2u)
       SELECT p.doc_id, count(*) AS n_pretokens,
         CAST(sum(len(e.sym)) AS BIGINT) AS n_tokens,
         md5(string_agg(array_to_string(e.sym, ' '), ' ' ORDER BY p.pos, p.pidx)) AS tokens_md5,
         md5(string_agg(e.decoded, '' ORDER BY p.pos, p.pidx)) AS decoded_md5,
         (md5(string_agg(e.decoded, '' ORDER BY p.pos, p.pidx))
            = md5(any_value(d.norm))) AS roundtrip_ok
       FROM pt p JOIN enc e USING (pretok) JOIN docs0 d USING (doc_id)
       GROUP BY p.doc_id
       ORDER BY doc_id"""
  }

  // p39d: byte-level BPE — byte→unicode map via hex(encode(.)), the
  // p39 merge chains over byte symbols, inverse-map decode roundtrip
  def specs: Seq[QuerySpec] = Seq(QuerySpec("p39d_byte_bpe", query, Some(oracleSql)))
}
