package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}

/** §2.3 P59 (p59): UNIGRAM-LM (SentencePiece) tokenizer — the other
  * production tokenizer family next to BPE (Kudo 2018, "Subword
  * Regularization"; what Llama/T5/ALBERT ship). Where BPE grows a
  * vocabulary bottom-up by pair merging, unigram-LM starts from a large
  * seed vocabulary of candidate pieces and fits a unigram language
  * model over segmentations by EM, segmenting with Viterbi under the
  * fitted piece costs and pruning pieces the model stops using.
  *
  * Deterministic formulation (the hard-EM / Viterbi-EM variant, chosen
  * so BOTH engines replay the whole trajectory bit-exactly):
  *   - seed vocabulary: every substring of 1..MaxPieceLen code points
  *     of every corpus chunk, kept when corpus count ≥ MinSeedCount;
  *     single code points are ALWAYS kept (coverage guarantee — every
  *     chunk stays segmentable in every round).
  *   - piece costs in integer micro-nats: pc = −floor(1e6·ln(cnt/Σcnt))
  *     (the p57/KN quantization — one fixed-shape double expression
  *     over integer counts, no accumulation).
  *   - E-step: Viterbi-segment every DISTINCT chunk under the current
  *     integer costs (min total cost; ties → the longest last piece);
  *     piece usage = Σ over chunks of corpus-count × occurrences —
  *     an order-independent integer sum.
  *   - M-step: kept = used pieces ∪ single code points, add-one
  *     smoothed (so never-used singles keep finite mass), re-costed.
  *   - EmRounds rounds, then a final Viterbi pass renders the corpus.
  *
  * Scale shape (100 TB): the corpus collapses to the WORD-FREQUENCY
  * table once (the p39 trick — everything after is corpus-size-
  * independent); words longer than MaxChunkLen code points are
  * pre-chunked so the Viterbi DP is bounded (the rare-tail rule, not a
  * fixture assumption). Every EM pass is ONE narrow typed mapPartitions
  * over the distinct-chunk table with the cost table broadcast
  * (tokenizer-sized — the same class as the BPE merge array) plus one
  * keyed integer aggregation; the final join back to the corpus word
  * stream is the p39b shape. Plan size is O(1) in vocabulary size and
  * in EM rounds (each round's costs collect to a vocab-sized map — no
  * lineage growth).
  *
  * Oracle: DuckDB replays the ENTIRE trajectory — seed counts, each
  * round's unrolled Viterbi DP (MaxChunkLen forward CTEs + backtrack
  * walk per pass), usage, re-costing, and the final per-doc render —
  * so the hash gate certifies every piece of every document AND every
  * EM step that produced the vocabulary (each round's argmin depends
  * on every prior round, the p39 chained-trajectory property).
  */
object UnigramLm {

  val MaxPieceLen  = 4
  val MaxChunkLen  = 16
  val MinSeedCount = 3L
  val EmRounds     = 2
  /** Multi-char seed pieces admitted to the EM (top by (count DESC,
    * piece ASC), a TakeOrdered over the distributed seed table) — the
    * 100 TB driver-memory bound UnigramPrune already has (its r11
    * caveat): without it [[collectCost]]'s map is SEED-bounded, which
    * grows with the corpus. 4096 is far above sf0.01's 204 qualifying
    * multi pieces (the sealed hashes are unchanged) and still a hard
    * ceiling at any corpus; the oracle replays the same capped
    * selection via QUALIFY. */
  val SeedCapMulti = 4096

  /** Code points of `s`, each as its own String (surrogate pairs
    * intact — the split($"w","")/DuckDB-len semantics, the BPE
    * initialSyms lesson). */
  private[graft] def codePoints(s: String): Array[String] = {
    val n = s.codePointCount(0, s.length)
    val out = new Array[String](n)
    var i = 0; var k = 0
    while (i < s.length) {
      val cc = Character.charCount(s.codePointAt(i))
      out(k) = s.substring(i, i + cc); i += cc; k += 1
    }
    out
  }

  /** Pre-chunking rule for long words: groups of MaxChunkLen code
    * points, so Viterbi cost is bounded per unit at ANY corpus. */
  private[graft] def chunksOf(w: String): Array[String] = {
    val cps = codePoints(w)
    if (cps.length <= MaxChunkLen) Array(w)
    else cps.grouped(MaxChunkLen).map(_.mkString).toArray
  }

  /** Every substring of 1..MaxPieceLen code points, with multiplicity
    * (one per start position). */
  private[graft] def seedPieces(chunk: String): Seq[String] = {
    val cps = codePoints(chunk)
    val off = cpOffsets(chunk, cps)
    for {
      s <- 0 until cps.length
      l <- 1 to MaxPieceLen
      if s + l <= cps.length
    } yield chunk.substring(off(s), off(s + l))
  }

  private[text] def cpOffsets(chunk: String, cps: Array[String]): Array[Int] = {
    val off = new Array[Int](cps.length + 1)
    var i = 0
    while (i < cps.length) { off(i + 1) = off(i) + cps(i).length; i += 1 }
    off
  }

  /** Min-cost segmentation of one chunk under integer piece costs.
    * Tie-break: among equal-cost predecessors prefer the LONGEST piece
    * (the oracle's CASE chain tests i = MaxPieceLen first). Coverage is
    * guaranteed by construction (single code points are always in the
    * vocabulary); the require is the loud contract check. */
  private[graft] def viterbi(chunk: String,
                             cost: scala.collection.Map[String, Long]): Array[String] = {
    val cps = codePoints(chunk)
    val L = cps.length
    val off = cpOffsets(chunk, cps)
    val dp = Array.fill(L + 1)(Long.MaxValue)
    val bp = new Array[Int](L + 1)
    dp(0) = 0L
    var j = 1
    while (j <= L) {
      var best = Long.MaxValue; var bi = 0
      var k = 1
      val kMax = math.min(MaxPieceLen, j)
      while (k <= kMax) {
        if (dp(j - k) != Long.MaxValue) {
          val pc = cost.getOrElse(chunk.substring(off(j - k), off(j)), -1L)
          if (pc >= 0L) {
            val cand = dp(j - k) + pc
            if (cand <= best) { best = cand; bi = k } // ties → longest piece
          }
        }
        k += 1
      }
      dp(j) = best; bp(j) = bi
      j += 1
    }
    require(dp(L) != Long.MaxValue, s"unigram viterbi: uncovered chunk '$chunk'")
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var p = L
    while (p > 0) { val k = bp(p); out += chunk.substring(off(p - k), off(p)); p -= k }
    out.reverseIterator.toArray
  }

  /** (piece, u) counts → (piece, pc) integer micro-nat costs — ONE
    * fixed-shape expression over the integer counts (the p57 pattern),
    * so DuckDB's replay is bit-identical. */
  private def costTable(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("u"))).head().getLong(0).toDouble
    counts.select(col("piece"),
      (-floor(lit(1e6) * log(col("u").cast("double") / lit(tot)))).cast("long").as("pc"))
  }

  private def collectCost(costDf: DataFrame): Map[String, Long] = {
    import costDf.sparkSession.implicits._
    costDf.as[(String, Long)].collect().toMap
  }

  /** One Viterbi-EM round: segment every distinct chunk under `cost`,
    * count piece usage (corpus-weighted integer sums), keep used pieces
    * ∪ singles with add-one smoothing, re-cost. */
  private def emRound(chunkCnt: DataFrame, cost: Map[String, Long],
                      singles: DataFrame): DataFrame = {
    val spark = chunkCnt.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cost)
    val usage = chunkCnt.as[(String, Long)].mapPartitions { it =>
      val c = bc.value
      it.flatMap { case (chunk, ccnt) => viterbi(chunk, c).iterator.map(p => (p, ccnt)) }
    }.toDF("piece", "ccnt")
      .groupBy(col("piece")).agg(sum(col("ccnt")).as("usage"))
    // materialize the vocab-sized usage table ONCE: costTable's total
    // (head) and the cost collect are two actions, and without this
    // cut each re-ran the full Viterbi E-step over the corpus — the
    // round's dominant pass, paid twice for the same integers
    val kept = Materialize(usage.join(singles, Seq("piece"), "full")
      .select(col("piece"), (coalesce(col("usage"), lit(0L)) + lit(1L)).as("u")))
    costTable(kept)
  }

  /** The fitted piece-cost map after EmRounds of Viterbi-EM, plus the
    * intermediate frames the query needs. */
  private[graft] def fit(spark: SparkSession, dir: String): (DataFrame, DataFrame, Map[String, Long]) =
    fitFrom(Tables.documents(spark, dir))

  private[graft] def fitFrom(docs: DataFrame,
                             seedCap: Int = SeedCapMulti): (DataFrame, DataFrame, Map[String, Long]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Zero-length words (whitespace-edged or empty docs) are dropped
    // IDENTICALLY on both engines: the oracle's chunk comprehension
    // range(0, ceil(len/16)) is empty for len=0, which would silently
    // drop such words from its render while Spark kept them (n_words
    // divergence). Filtering after posexplode keeps original positions
    // for the ordered render on both sides.
    val docWords = docs
      .select($"doc_id", posexplode(split($"text", "\\s+")).as(Seq("pos", "word")))
      .filter(length($"word") > 0)
    val wordCnt = docWords.groupBy($"word").agg(count(lit(1)).as("wcnt"))
    val wordChunks = wordCnt.select($"word").as[String].mapPartitions { it =>
      it.flatMap(w => chunksOf(w).iterator.zipWithIndex.map { case (c, k) => (w, k, c) })
    }.toDF("word", "k", "chunk")
    val chunkCnt = wordChunks.join(wordCnt, "word")
      .groupBy($"chunk").agg(sum($"wcnt").as("ccnt"))
    val costMap = Materialize.scoped(wordCnt, chunkCnt) {
      chunkCnt.count()
      val seedCnt = chunkCnt.as[(String, Long)].mapPartitions { it =>
        it.flatMap { case (c, n) => seedPieces(c).iterator.map(p => (p, n)) }
      }.toDF("piece", "ccnt")
        .groupBy($"piece").agg(sum($"ccnt").as("cnt"))
      // capped seed: ALL singles (coverage) + top-SeedCapMulti multi by
      // (cnt DESC, piece ASC) — TakeOrdered, so the driver-side cost map
      // is cap-bounded at any corpus size
      val vocab0 = seedCnt
        .filter(length($"piece") === 1)
        .unionByName(seedCnt
          .filter(length($"piece") > 1 && $"cnt" >= MinSeedCount)
          .orderBy($"cnt".desc, $"piece")
          .limit(seedCap))
      val singles = vocab0.filter(length($"piece") === 1).select($"piece")
      Materialize.scoped(vocab0, singles) {
        singles.count()
        var costMap = collectCost(costTable(vocab0.select($"piece", $"cnt".as("u"))))
        for (_ <- 1 to EmRounds)
          costMap = collectCost(emRound(chunkCnt, costMap, singles))
        costMap
      }
    }
    (docWords, wordCnt, costMap)
  }

  /** p59: per-doc unigram-LM tokenization record — word count, piece
    * count under the EM-fitted vocabulary, and the md5 of the full
    * rendered piece stream in document order (the p39b render), so the
    * hash gate certifies every piece of every document and, through
    * the fitted costs, the entire EM trajectory. */
  def query(spark: SparkSession, dir: String): DataFrame =
    queryFrom(Tables.documents(spark, dir))

  private[graft] def queryFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (docWords, _, costMap) = fitFrom(docs)
    val bc = spark.sparkContext.broadcast(costMap)
    val wordPieces = docWords.select($"word").distinct().as[String].mapPartitions { it =>
      val c = bc.value
      it.map { w =>
        val ps = chunksOf(w).flatMap(ch => viterbi(ch, c))
        (w, ps.toSeq, ps.mkString(" "))
      }
    }.toDF("word", "pieces", "ws")
    docWords.join(wordPieces, "word")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
           sum(size($"pieces")).cast("long").as("n_pieces"),
           md5(concat_ws(" ",
             transform(array_sort(collect_list(struct($"pos", $"ws"))),
               s => s.getField("ws")))).as("pieces_md5"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------
  // DuckDB oracle: the full EM trajectory as chained CTEs — seed
  // counts, per-round unrolled Viterbi DP (MaxChunkLen forward
  // positions + a backtrack walk), usage, re-costing, final render.
  // ---------------------------------------------------------------

  /** Forward DP position j of pass r (costs from cost{r-1}): candidate
    * costs (up to MaxPieceLen predecessors), then min + backpointer
    * with the ties→longest-piece CASE (tests the largest i first). */
  private[text] def fwdCte(r: Int, j: Int, costName: String = null): String = {
    val prev = if (j == 1) s"f${r}_0" else s"f${r}_${j - 1}"
    val ct = if (costName != null) costName else s"cost${r - 1}"
    val is = 1 to math.min(MaxPieceLen, j)
    val cands = is.map { i =>
      val cPrev = if (j - i == 0) "CAST(0 AS BIGINT)" else s"d.c${j - i}"
      s"CASE WHEN $j <= d.L THEN $cPrev + p$i.pc END AS a$i"
    }.mkString(", ")
    val joins = is.map { i =>
      s"LEFT JOIN $ct p$i ON p$i.piece = substr(d.chunk, ${j - i + 1}, $i)"
    }.mkString(" ")
    val carryD = (Seq("d.chunk", "d.L") ++
      (1 until j).flatMap(x => Seq(s"d.c$x", s"d.b$x"))).mkString(", ")
    val carry = (Seq("chunk", "L") ++
      (1 until j).flatMap(x => Seq(s"c$x", s"b$x"))).mkString(", ")
    val minE = s"least(${is.map(i => s"a$i").mkString(", ")})"
    val bpCase =
      if (is.max < 2) "1"
      else {
        val whens = (is.max to 2 by -1)
          .map(i => s"WHEN a$i IS NOT NULL AND a$i = $minE THEN $i").mkString(" ")
        s"CASE $whens ELSE 1 END"
      }
    s"""fa${r}_$j AS (
         SELECT $carryD, $cands
         FROM $prev d $joins),
       f${r}_$j AS (
         SELECT $carry, $minE AS c$j,
           CASE WHEN $j <= L THEN $bpCase END AS b$j
         FROM fa${r}_$j)"""
  }

  /** Backtrack step s of pass r: walk p ← p − bl[p], prepending each
    * emitted piece so seg ends in forward order. */
  private[text] def backCte(r: Int, s: Int): String = {
    val prev = if (s == 1) s"g${r}_0" else s"g${r}_${s - 1}"
    s"""g${r}_$s AS (
         SELECT chunk, bl,
           CASE WHEN p > 0 THEN p - bl[p] ELSE p END AS p,
           CASE WHEN p > 0
                THEN list_prepend(substr(chunk, p - bl[p] + 1, bl[p]), seg)
                ELSE seg END AS seg
         FROM $prev)"""
  }

  /** One full Viterbi pass r (under `costName`, default cost{r-1})
    * → seg$r(chunk, seg). */
  private[text] def passCtes(r: Int, costName: String = null): String = {
    val fwd = (1 to MaxChunkLen).map(fwdCte(r, _, costName)).mkString(",\n       ")
    val blList = (1 to MaxChunkLen).map(j => s"b$j").mkString(", ")
    val back = (1 to MaxChunkLen).map(backCte(r, _)).mkString(",\n       ")
    s"""f${r}_0 AS (SELECT chunk, len(chunk) AS L FROM dch),
       $fwd,
       g${r}_0 AS (
         SELECT chunk, [$blList] AS bl, L AS p,
                CAST([] AS VARCHAR[]) AS seg
         FROM f${r}_$MaxChunkLen),
       $back,
       seg$r AS MATERIALIZED (SELECT chunk, seg FROM g${r}_$MaxChunkLen)"""
  }

  /** Usage + add-one M-step of round r (from seg$r) → cost$r. */
  private def mStepCtes(r: Int): String =
    s"""u$r AS (
         SELECT s.piece, sum(cc.ccnt) AS usage
         FROM (SELECT chunk, unnest(seg) AS piece FROM seg$r) s
         JOIN cc USING (chunk) GROUP BY 1),
       k$r AS (
         SELECT coalesce(u.piece, s.piece) AS piece,
                coalesce(u.usage, 0) + 1 AS u
         FROM u$r u FULL OUTER JOIN sing s ON u.piece = s.piece),
       tt$r AS (SELECT CAST(sum(u) AS DOUBLE) AS t FROM k$r),
       cost$r AS MATERIALIZED (
         SELECT piece, CAST(-floor(1e6 * ln(CAST(u AS DOUBLE) / tt$r.t)) AS BIGINT) AS pc
         FROM k$r, tt$r)"""

  val oracleSql: String = {
    val w = MaxChunkLen
    val emPasses = (1 to EmRounds).map(r => s"${passCtes(r)},\n       ${mStepCtes(r)}")
      .mkString(",\n       ")
    val finalPass = passCtes(EmRounds + 1)
    s"""WITH w0 AS MATERIALIZED (
         SELECT word, count(*) AS wcnt FROM (
           SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word
           FROM documents) t WHERE len(word) > 0 GROUP BY 1),
       ch0 AS (
         SELECT word,
           [{'k': k, 'chunk': substr(word, $w * k + 1, $w)}
            for k in range(0, CAST(ceil(len(word) / $w.0) AS INT))] AS cs
         FROM (SELECT word FROM w0)),
       ch AS MATERIALIZED (SELECT word, unnest(cs, recursive := true) FROM ch0),
       cc AS MATERIALIZED (SELECT chunk, sum(w0.wcnt) AS ccnt
              FROM ch JOIN w0 USING (word) GROUP BY 1),
       dch AS MATERIALIZED (SELECT DISTINCT chunk FROM ch),
       sc AS MATERIALIZED (
         SELECT p.piece, len(p.piece) AS plen, sum(cc.ccnt) AS cnt FROM (
           SELECT chunk, substr(chunk, s + 1, l) AS piece
           FROM dch, (SELECT unnest(range(0, $w)) AS s) ss,
                     (SELECT unnest(range(1, ${MaxPieceLen + 1})) AS l) ll
           WHERE s + l <= len(chunk)) p
         JOIN cc USING (chunk) GROUP BY 1, 2),
       v0 AS (SELECT piece, cnt FROM sc WHERE plen = 1
              UNION ALL
              SELECT piece, cnt FROM sc WHERE plen > 1 AND cnt >= $MinSeedCount
              QUALIFY row_number() OVER (ORDER BY cnt DESC, piece ASC) <= $SeedCapMulti),
       sing AS MATERIALIZED (SELECT piece FROM sc WHERE plen = 1),
       tt0 AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM v0),
       cost0 AS MATERIALIZED (
         SELECT piece, CAST(-floor(1e6 * ln(CAST(cnt AS DOUBLE) / tt0.t)) AS BIGINT) AS pc
         FROM v0, tt0),
       $emPasses,
       $finalPass,
       wseg AS (
         SELECT ch.word, flatten(array_agg(s.seg ORDER BY ch.k)) AS wp
         FROM ch JOIN seg${EmRounds + 1} s ON ch.chunk = s.chunk
         GROUP BY ch.word),
       dw0 AS (
         SELECT doc_id, [{'pos': i, 'word': wl[i]} for i in range(1, len(wl) + 1)] AS ws
         FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS wl FROM documents)),
       dw AS (SELECT * FROM (SELECT doc_id, unnest(ws, recursive := true) FROM dw0)
              WHERE len(word) > 0)
       SELECT dw.doc_id, count(*) AS n_words,
         CAST(sum(len(w.wp)) AS BIGINT) AS n_pieces,
         md5(string_agg(array_to_string(w.wp, ' '), ' ' ORDER BY dw.pos)) AS pieces_md5
       FROM dw JOIN wseg w ON dw.word = w.word
       GROUP BY dw.doc_id
       ORDER BY doc_id"""
  }

  // p59: the full unigram-LM EM trajectory replayed as chained CTEs —
  // seed counts, per-round unrolled Viterbi DP, usage, re-costing,
  // final per-doc render
  def specs: Seq[QuerySpec] = Seq(QuerySpec("p59_unigram_lm", query, Some(oracleSql)))
}
