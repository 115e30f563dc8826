package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}

/** §2.3 P59b (p59b): unigram-LM VOCABULARY PRUNING to a target size —
  * the defining loop of SentencePiece training (Kudo 2018 §3.2) that
  * p59's plain Viterbi-EM leaves open: production tokenizers are
  * trained by seeding a LARGE candidate vocabulary and iteratively
  * discarding the pieces whose removal costs the model least, until a
  * requested |V| (32k/64k in practice) remains. Two deltas vs p59:
  *
  *   - the EM keeps the WHOLE current vocabulary each round (add-one
  *     smoothed usage over all pieces, not `used ∪ singles`) — hard-EM
  *     with used-only retention collapses the vocabulary to a few
  *     dozen pieces on its own, which is why p59 can never hit a
  *     requested size;
  *   - after each M-step, each multi-char piece is scored by its
  *     LIKELIHOOD LOSS: loss(p) = usage(p) · (altCost(p) − cost(p)),
  *     where altCost(p) is the min cost of segmenting the string p
  *     WITHOUT the piece itself (its best replacement under the
  *     current model — Kudo's leave-one-out criterion in the same
  *     integer micro-nats as the rest of the trajectory). The
  *     `floor(α·|multi|)` cheapest-to-lose pieces are dropped, capped
  *     so |V| never undershoots the target; single code points are
  *     never dropped (coverage). A fixed round count with the
  *     self-limiting cap (d = 0 once at target) makes the trajectory
  *     static enough for the SQL oracle to replay verbatim.
  *
  * Seed-cap (the 100 TB driver-memory bound): only the top
  * [[SeedCapMulti]] multi-char seed pieces by (count DESC, piece ASC)
  * enter the vocabulary — a TakeOrdered on the distributed seed table,
  * so the driver-side cost map is CAP-bounded at any corpus, not
  * seed-bounded (the r11 caveat on p59's collectCost). Both engines
  * replay the capped selection deterministically.
  *
  * Scale shape: identical to p59 — corpus collapses to the word table,
  * every E-step is one typed mapPartitions over distinct chunks with a
  * broadcast cost map plus a keyed integer agg; the prune bookkeeping
  * (M-step smoothing, leave-one-out DP over ≤4-code-point pieces,
  * ranking) is vocabulary-sized driver work, the same class as the BPE
  * merge table. Plan size is O(1) in rounds and |V|.
  *
  * Oracle: DuckDB replays the ENTIRE trajectory — capped seed, each
  * round's unrolled chunk Viterbi, full-vocab smoothing, per-piece
  * leave-one-out DP, loss ranking, the drop-count arithmetic, and the
  * final render — so the hash gate certifies every prune decision.
  */
object UnigramPrune {

  /** Multi-char seed pieces admitted (top by count) — binds at sf0.01
    * (204 qualifying multi pieces) so the cap is actually exercised. */
  val SeedCapMulti = 160
  /** Target total vocabulary size (singles + multi). */
  val Target = 64
  /** Fixed prune-round count; rounds after reaching the target still
    * run EM but drop nothing (d = 0) — self-limiting, so the unrolled
    * oracle stays static. 6 reaches 64 from 24+160 at α = 1/4. */
  val PruneRounds = 6

  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Min cost of segmenting piece `p` WITHOUT using p itself — the
    * leave-one-out replacement cost. Only the whole-string candidate
    * can equal p (strict substrings are shorter), so exclusion is
    * exactly the (j = L, k = L) candidate. Always finite: singles are
    * never dropped and every char of a piece is a corpus single. */
  private[graft] def altCost(p: String, cost: scala.collection.Map[String, Long]): Long = {
    val cps = UnigramLm.codePoints(p)
    val L = cps.length
    val off = UnigramLm.cpOffsets(p, cps)
    val dp = Array.fill(L + 1)(Long.MaxValue)
    dp(0) = 0L
    var j = 1
    while (j <= L) {
      var best = Long.MaxValue
      var k = 1
      val kMax = math.min(UnigramLm.MaxPieceLen, j)
      while (k <= kMax) {
        if (dp(j - k) != Long.MaxValue && !(j == L && k == L)) {
          val pc = cost.getOrElse(p.substring(off(j - k), off(j)), -1L)
          if (pc >= 0L && dp(j - k) + pc < best) best = dp(j - k) + pc
        }
        k += 1
      }
      dp(j) = best
      j += 1
    }
    require(dp(L) != Long.MaxValue, s"unigram prune: piece '$p' has no alternative")
    dp(L)
  }

  /** (piece, u) → (piece, pc) through the IDENTICAL Spark expression
    * p59 uses (never driver-side Math.log — the ln/floor quantization
    * parity with DuckDB is established for this code path only). */
  private def costOf(spark: SparkSession, counts: Seq[(String, Long)]): Map[String, Long] = {
    import spark.implicits._
    val tot = counts.map(_._2).sum.toDouble
    counts.toDF("piece", "u")
      .select($"piece",
        (-floor(lit(1e6) * log($"u".cast("double") / lit(tot)))).cast("long").as("pc"))
      .as[(String, Long)].collect().toMap
  }

  /** Distributed E-step: corpus-weighted piece usage under `cost`. */
  private def usageOf(chunkCnt: DataFrame, cost: Map[String, Long]): Map[String, Long] = {
    val spark = chunkCnt.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cost)
    chunkCnt.as[(String, Long)].mapPartitions { it =>
      val c = bc.value
      it.flatMap { case (ch, n) => UnigramLm.viterbi(ch, c).iterator.map(p => (p, n)) }
    }.toDF("piece", "ccnt")
      .groupBy($"piece").agg(sum($"ccnt").as("usage"))
      .as[(String, Long)].collect().toMap // ≤ |V| rows — cap-bounded
  }

  /** Fit: capped seed → PruneRounds × (E-step, full-vocab M-step,
    * leave-one-out loss, drop) → final cost map. */
  private[graft] def fitPruned(docs: DataFrame,
                               seedCap: Int = SeedCapMulti,
                               target: Int = Target,
                               rounds: Int = PruneRounds): (DataFrame, Map[String, Long]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val docWords = docs
      .select($"doc_id", posexplode(split($"text", "\\s+")).as(Seq("pos", "word")))
      .filter(length($"word") > 0)
    val wordCnt = docWords.groupBy($"word").agg(count(lit(1)).as("wcnt"))
    val wordChunks = wordCnt.select($"word").as[String].mapPartitions { it =>
      it.flatMap(w => UnigramLm.chunksOf(w).iterator.map(c => (w, c)))
    }.toDF("word", "chunk")
    val chunkCnt = wordChunks.join(wordCnt, "word")
      .groupBy($"chunk").agg(sum($"wcnt").as("ccnt"))
    val seedCnt = chunkCnt.as[(String, Long)].mapPartitions { it =>
      it.flatMap { case (c, n) => UnigramLm.seedPieces(c).iterator.map(p => (p, n)) }
    }.toDF("piece", "ccnt")
      .groupBy($"piece").agg(sum($"ccnt").as("cnt"))
    val cost = Materialize.scoped(wordCnt, chunkCnt, seedCnt) {
      chunkCnt.count()
      // capped seed: all singles + top-SeedCapMulti multi by (cnt, piece)
      // — a TakeOrdered over the distributed seed table, driver sees only
      // the cap
      val singles = seedCnt.filter(length($"piece") === 1)
        .select($"piece", $"cnt").as[(String, Long)].collect()
      val cappedMulti = seedCnt
        .filter(length($"piece") > 1 && $"cnt" >= UnigramLm.MinSeedCount)
        .orderBy($"cnt".desc, $"piece")
        .limit(seedCap)
        .select($"piece", $"cnt").as[(String, Long)].collect()
      var cost = costOf(spark, (singles ++ cappedMulti).toSeq.sortBy(_._1))
      for (_ <- 1 to rounds) {
        val usage = usageOf(chunkCnt, cost)
        // M-step over the FULL current vocabulary, add-one smoothed
        val u = cost.keysIterator.map(p => p -> (usage.getOrElse(p, 0L) + 1L)).toSeq.sortBy(_._1)
        val pcP = costOf(spark, u)
        val multi = pcP.keysIterator.filter(cpLen(_) > 1).toSeq
        val over = pcP.size - target
        val d = if (over <= 0) 0 else math.min(over, math.max(1, multi.size / 4))
        val dropped = multi
          // + 0.0 canonicalizes -0.0 (usage 0 × negative delta): Java's
          // Double.compare orders -0.0 < 0.0, SQL does not
          .map(p => (usage.getOrElse(p, 0L).toDouble * (altCost(p, pcP) - pcP(p)).toDouble + 0.0, p))
          .sortBy { case (l, pp) => (l, pp) }
          .take(d).map(_._2).toSet
        cost = pcP.filter { case (p, _) => !dropped.contains(p) }
      }
      cost
    }
    (docWords, cost)
  }

  /** p59b: per-doc render under the pruned vocabulary + the final
    * vocabulary size (hash-certifying every prune decision). */
  def query(spark: SparkSession, dir: String): DataFrame =
    queryFrom(Tables.documents(spark, dir))

  private[graft] def queryFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (docWords, cost) = fitPruned(docs)
    val bc = spark.sparkContext.broadcast(cost)
    val wordPieces = docWords.select($"word").distinct().as[String].mapPartitions { it =>
      val c = bc.value
      it.map { w =>
        val ps = UnigramLm.chunksOf(w).flatMap(ch => UnigramLm.viterbi(ch, c))
        (w, ps.length.toLong, ps.mkString(" "))
      }
    }.toDF("word", "np", "ws")
    docWords.join(wordPieces, "word")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
           sum($"np").cast("long").as("n_pieces"),
           md5(concat_ws(" ",
             transform(array_sort(collect_list(struct($"pos", $"ws"))),
               s => s.getField("ws")))).as("pieces_md5"))
      .withColumn("n_vocab", lit(cost.size.toLong))
      .select($"doc_id", $"n_words", $"n_pieces", $"n_vocab", $"pieces_md5")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------
  // DuckDB oracle: capped seed + the full prune trajectory unrolled.
  // ---------------------------------------------------------------

  /** Leave-one-out DP (≤ MaxPieceLen positions) for every multi piece
    * of pp$r, excluding only the (j = L, i = L) whole-piece candidate;
    * → alt$r(piece, alt). */
  private def lossCtes(r: Int): String = {
    val W = UnigramLm.MaxPieceLen
    val fwd = (1 to W).map { j =>
      val prev = if (j == 1) s"la${r}_0" else s"la${r}_${j - 1}"
      val is = 1 to math.min(W, j)
      val cands = is.map { i =>
        val cPrev = if (j - i == 0) "CAST(0 AS BIGINT)" else s"d.c${j - i}"
        s"CASE WHEN $j <= d.L AND NOT ($j = d.L AND $i = $j) THEN $cPrev + q$i.pc END AS a$i"
      }.mkString(", ")
      val joins = is.map { i =>
        s"LEFT JOIN pp$r q$i ON q$i.piece = substr(d.piece, ${j - i + 1}, $i)"
      }.mkString(" ")
      val carryD = (Seq("d.piece", "d.L") ++ (1 until j).map(x => s"d.c$x")).mkString(", ")
      val carry = (Seq("piece", "L") ++ (1 until j).map(x => s"c$x")).mkString(", ")
      val minE = s"least(${is.map(i => s"a$i").mkString(", ")})"
      s"""laa${r}_$j AS (
           SELECT $carryD, $cands
           FROM $prev d $joins),
         la${r}_$j AS (SELECT $carry, $minE AS c$j FROM laa${r}_$j)"""
    }.mkString(",\n       ")
    val altSel = (2 to W).map(j => s"WHEN $j THEN c$j").mkString(" ")
    s"""la${r}_0 AS (SELECT piece, len(piece) AS L FROM pp$r WHERE len(piece) > 1),
       $fwd,
       alt$r AS (SELECT piece, CASE L $altSel END AS alt FROM la${r}_$W)"""
  }

  /** One prune round r: usage, full-vocab M-step, loss, ranked drop,
    * surviving cost$r. */
  private def roundCtes(r: Int): String = {
    s"""${UnigramLm.passCtes(r)},
       u$r AS (
         SELECT s.piece, sum(cc.ccnt) AS usage
         FROM (SELECT chunk, unnest(seg) AS piece FROM seg$r) s
         JOIN cc USING (chunk) GROUP BY 1),
       k$r AS (
         SELECT c.piece, coalesce(u.usage, 0) + 1 AS u,
                coalesce(u.usage, 0) AS usage0
         FROM cost${r - 1} c LEFT JOIN u$r u USING (piece)),
       tt$r AS (SELECT CAST(sum(u) AS DOUBLE) AS t FROM k$r),
       pp$r AS MATERIALIZED (
         SELECT piece, usage0,
                CAST(-floor(1e6 * ln(CAST(u AS DOUBLE) / tt$r.t)) AS BIGINT) AS pc
         FROM k$r, tt$r),
       ${lossCtes(r)},
       loss$r AS (
         SELECT p.piece,
                CAST(p.usage0 AS DOUBLE) * CAST(a.alt - p.pc AS DOUBLE) + 0.0 AS loss
         FROM pp$r p JOIN alt$r a USING (piece)),
       dd$r AS (
         SELECT CASE WHEN nv - ${Target} <= 0 THEN 0
                     ELSE least(nv - ${Target},
                                greatest(1, CAST(floor(nm / 4.0) AS BIGINT)))
                END AS d
         FROM (SELECT count(*) AS nv FROM pp$r),
              (SELECT count(*) AS nm FROM loss$r)),
       drop$r AS (
         SELECT piece FROM loss$r, dd$r
         QUALIFY row_number() OVER (ORDER BY loss ASC, piece ASC) <= dd$r.d),
       cost$r AS MATERIALIZED (
         SELECT piece, pc FROM pp$r
         WHERE piece NOT IN (SELECT piece FROM drop$r))"""
  }

  val oracleSql: String = {
    val w = UnigramLm.MaxChunkLen
    val rounds = (1 to PruneRounds).map(roundCtes).mkString(",\n       ")
    val finalPass = UnigramLm.passCtes(PruneRounds + 1, s"cost$PruneRounds")
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
                     (SELECT unnest(range(1, ${UnigramLm.MaxPieceLen + 1})) AS l) ll
           WHERE s + l <= len(chunk)) p
         JOIN cc USING (chunk) GROUP BY 1, 2),
       cap AS (
         SELECT piece, cnt FROM sc
         WHERE plen > 1 AND cnt >= ${UnigramLm.MinSeedCount}
         QUALIFY row_number() OVER (ORDER BY cnt DESC, piece ASC) <= $SeedCapMulti),
       v0 AS (
         SELECT piece, cnt FROM sc WHERE plen = 1
         UNION ALL SELECT piece, cnt FROM cap),
       tt0 AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM v0),
       cost0 AS MATERIALIZED (
         SELECT piece, CAST(-floor(1e6 * ln(CAST(cnt AS DOUBLE) / tt0.t)) AS BIGINT) AS pc
         FROM v0, tt0),
       $rounds,
       $finalPass,
       nvf AS (SELECT CAST(count(*) AS BIGINT) AS n_vocab FROM cost$PruneRounds),
       wseg AS (
         SELECT ch.word, flatten(array_agg(s.seg ORDER BY ch.k)) AS wp
         FROM ch JOIN seg${PruneRounds + 1} s ON ch.chunk = s.chunk
         GROUP BY ch.word),
       dw0 AS (
         SELECT doc_id, [{'pos': i, 'word': wl[i]} for i in range(1, len(wl) + 1)] AS ws
         FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS wl FROM documents)),
       dw AS (SELECT * FROM (SELECT doc_id, unnest(ws, recursive := true) FROM dw0)
              WHERE len(word) > 0)
       SELECT dw.doc_id, count(*) AS n_words,
         CAST(sum(len(w.wp)) AS BIGINT) AS n_pieces,
         nvf.n_vocab AS n_vocab,
         md5(string_agg(array_to_string(w.wp, ' '), ' ' ORDER BY dw.pos)) AS pieces_md5
       FROM dw JOIN wseg w ON dw.word = w.word, nvf
       GROUP BY dw.doc_id, nvf.n_vocab
       ORDER BY doc_id"""
  }

  // p59b: the prune loop too — capped seed, per-round leave-one-out
  // losses, ranked drops, and the final render under the target-size
  // vocabulary all replayed
  def specs: Seq[QuerySpec] = Seq(QuerySpec("p59b_unigram_prune", query, Some(oracleSql)))
}
