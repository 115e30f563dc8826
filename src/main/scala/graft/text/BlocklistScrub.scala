package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P64 (p64): DICTIONARY BLOCKLIST SCRUB via AHO–CORASICK — the
  * multi-pattern scan every large-scale curation pipeline runs
  * (blocklist filtering / term redaction; the FlashText/Aho–Corasick
  * class): p21's regex redaction covers STRUCTURED patterns (emails,
  * SSNs), but production blocklists are THOUSANDS of literal terms,
  * and running one regex alternation per term is O(terms × text).
  * Aho–Corasick builds the goto/fail automaton once (dictionary-sized,
  * driver + broadcast) and finds ALL occurrences of every term in ONE
  * pass over the text — O(text + matches), term-count-independent.
  *
  * Semantics (set-cover redaction, the safe choice for scrubbing):
  * every code point covered by ANY term occurrence masks to '*';
  * n_hits counts distinct (term, start) occurrences including
  * overlaps — exactly what the automaton's suffix links surface.
  * Matching is substring-level (no word bounds) over CODE POINTS, so
  * offsets agree with the oracle's character-based substr arithmetic
  * on any input, multibyte included.
  *
  * The blocklist derives deterministically from the corpus (top
  * [[NumTerms]] words of ≥ [[MinTermLen]] code points by (count DESC,
  * word ASC)) so both engines construct the identical dictionary and
  * hits are guaranteed on any fixture.
  *
  * Scale shape: dictionary selection is one word-count agg + a
  * TakeOrdered (vocabulary-sized); the scan is one narrow typed
  * mapPartitions with the broadcast automaton — ingest-rate row-local
  * work, the mm-family class. The oracle replays term selection, the
  * full occurrence set (terms × offsets brute force — the SPEC pins
  * automaton ≡ brute force), coverage, and the masked render.
  */
object BlocklistScrub {

  val NumTerms = 16
  val MinTermLen = 4

  /** Aho–Corasick automaton over code-point symbols. Nodes are dense
    * ints; goto = hash maps (dictionary-sized); fail links BFS. */
  private[graft] final class Automaton(terms: Seq[String]) extends Serializable {
    // trie
    private val gotoMaps = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.Map[Int, Int]())
    private val outLens = scala.collection.mutable.ArrayBuffer(List.empty[Int])
    terms.foreach { t =>
      var s = 0
      val cps = t.codePoints().toArray
      cps.foreach { c =>
        s = gotoMaps(s).getOrElseUpdate(c, {
          gotoMaps += scala.collection.mutable.Map[Int, Int]()
          outLens += List.empty[Int]
          gotoMaps.length - 1
        })
      }
      outLens(s) = cps.length :: outLens(s)
    }
    // fail links (BFS) + output merging
    private val fail = Array.fill(gotoMaps.length)(0)
    private val queue = scala.collection.mutable.Queue[Int]()
    gotoMaps(0).values.foreach { s => fail(s) = 0; queue += s }
    while (queue.nonEmpty) {
      val r = queue.dequeue()
      gotoMaps(r).foreach { case (c, s) =>
        queue += s
        var f = fail(r)
        while (f != 0 && !gotoMaps(f).contains(c)) f = fail(f)
        fail(s) = if (f != s && gotoMaps(f).contains(c)) gotoMaps(f)(c) else 0
        if (fail(s) == s) fail(s) = 0
        outLens(s) = outLens(s) ++ outLens(fail(s))
      }
    }
    private def step(state: Int, c: Int): Int = {
      var s = state
      while (s != 0 && !gotoMaps(s).contains(c)) s = fail(s)
      gotoMaps(s).getOrElse(c, 0)
    }
    /** All (startCp, lenCp) occurrences in ONE pass. */
    def occurrences(cps: Array[Int]): Seq[(Int, Int)] = {
      val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      var s = 0
      var i = 0
      while (i < cps.length) {
        s = step(s, cps(i))
        outLens(s).foreach(len => out += ((i - len + 1, len)))
        i += 1
      }
      out.toSeq
    }
  }

  /** Naive reference scan (the spec's ground truth for automaton ≡
    * brute force): every (term, offset) with a code-point match. */
  private[graft] def naiveOccurrences(cps: Array[Int], terms: Seq[String]): Seq[(Int, Int)] =
    for {
      t <- terms
      tc = t.codePoints().toArray.toSeq
      i <- 0 to cps.length - tc.length
      if cps.slice(i, i + tc.length).toSeq == tc
    } yield (i, tc.length)

  /** Deterministic corpus blocklist: top NumTerms words of ≥ MinTermLen
    * code points by (count DESC, word ASC) — a TakeOrdered. */
  private[graft] def blocklist(docs: DataFrame): Seq[String] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(split($"text", "\\s+")).as("word"))
      .filter(length($"word") >= MinTermLen)
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"word")
      .limit(NumTerms)
      .select($"word").as[String].collect().toSeq
  }

  /** Per-doc scrub record: hits, covered code points, masked render. */
  def query(spark: SparkSession, dir: String): DataFrame =
    queryFrom(Tables.documents(spark, dir))

  private[graft] def queryFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = blocklist(docs)
    val bc = spark.sparkContext.broadcast(new Automaton(terms))
    docs.select($"doc_id", $"text").as[(Long, String)].mapPartitions { it =>
      val ac = bc.value
      it.map { case (id, text) =>
        val cps = text.codePoints().toArray
        val occ = ac.occurrences(cps)
        val covered = new Array[Boolean](cps.length)
        occ.foreach { case (s, l) =>
          var i = s; while (i < s + l) { covered(i) = true; i += 1 }
        }
        val sb = new java.lang.StringBuilder(text.length)
        var i = 0
        while (i < cps.length) {
          if (covered(i)) sb.append('*') else sb.appendCodePoint(cps(i))
          i += 1
        }
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(sb.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        (id, occ.length.toLong, covered.count(identity).toLong, md)
      }
    }.toDF("doc_id", "n_hits", "n_masked_cps", "masked_md5")
      .orderBy($"doc_id")
  }

  /** DuckDB replay: identical term selection; occurrences by brute
    * offset scan (terms × positions); coverage via distinct covered
    * positions; masked render re-assembled per position. */
  val oracleSql: String =
    s"""WITH terms AS MATERIALIZED (
         SELECT word FROM (
           SELECT word, count(*) AS cnt FROM (
             SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word
             FROM documents) t
           WHERE len(word) >= $MinTermLen GROUP BY 1)
         QUALIFY row_number() OVER (ORDER BY cnt DESC, word ASC) <= $NumTerms),
       occ AS MATERIALIZED (
         SELECT d.doc_id, s.s, len(t.word) AS l
         FROM documents d
         CROSS JOIN terms t
         CROSS JOIN LATERAL (
           SELECT unnest(range(1, len(d.text) - len(t.word) + 2)) AS s) s
         WHERE substr(d.text, s.s, len(t.word)) = t.word),
       cov AS (
         SELECT DISTINCT doc_id, s.p
         FROM occ CROSS JOIN LATERAL (
           SELECT unnest(range(occ.s, occ.s + occ.l)) AS p) s),
       masked AS (
         SELECT d.doc_id,
           string_agg(CASE WHEN cov.p IS NOT NULL THEN '*'
                           ELSE substr(d.text, ps.p, 1) END, '' ORDER BY ps.p) AS mtext
         FROM documents d
         CROSS JOIN LATERAL (
           SELECT unnest(range(1, len(d.text) + 1)) AS p) ps
         LEFT JOIN cov ON cov.doc_id = d.doc_id AND cov.p = ps.p
         GROUP BY d.doc_id),
       hits AS (
         SELECT doc_id, count(*) AS n_hits FROM occ GROUP BY 1),
       ncov AS (
         SELECT doc_id, count(*) AS n_masked_cps FROM cov GROUP BY 1)
       SELECT d.doc_id,
         coalesce(h.n_hits, 0) AS n_hits,
         coalesce(c.n_masked_cps, 0) AS n_masked_cps,
         md5(coalesce(m.mtext, d.text)) AS masked_md5
       FROM documents d
       LEFT JOIN hits h USING (doc_id)
       LEFT JOIN ncov c USING (doc_id)
       LEFT JOIN masked m USING (doc_id)
       ORDER BY doc_id"""

  // p64: blocklist selection + brute-force occurrence scan + set-cover
  // mask replayed per position (the spec pins automaton ≡ brute force)
  def specs: Seq[QuerySpec] = Seq(QuerySpec("p64_blocklist_scrub", query, Some(oracleSql)))
}
