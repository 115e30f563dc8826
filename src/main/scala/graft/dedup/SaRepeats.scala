package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}

/** §2.3 P61 (p33c): corpus-repeat detection by PREFIX DOUBLING — the
  * suffix-array construction step of Lee et al.'s ExactSubstr, closing
  * the documented delta in p33/p33b (those find repeats at ONE fixed
  * window length; the paper's suffix array finds repeats at every
  * length). Prefix doubling is the canonical distributed SA algorithm
  * (Manber–Myers; the shape every large-scale SA build uses): round k
  * holds an integer rank per text position such that two positions
  * share a rank iff their k-character prefixes are equal; round 2k
  * re-ranks the pair (rank_k(p), rank_k(p+k)) — so log₂(L) keyed
  * rounds classify every position's repeat structure up to length L
  * with TWO INTEGERS per position per round, never materializing
  * window strings (p33b's windows carry k bytes; at the paper's L=50+
  * granularity ladder this is the memory-honest form).
  *
  * Output: per document, for each ℓ ∈ {1,2,4,…,128}, the number of
  * positions that START a substring of ≥ ℓ characters repeated
  * elsewhere in the corpus (any document, the raw SA semantics —
  * p33's cross-doc-only restriction is a policy layer above this).
  * rep_ℓ is monotone non-increasing in ℓ (spec-pinned), and rep_16
  * equals an independently computed sliding 16-gram duplicate count
  * (spec-pinned — the p33b equivalence, now BOTH directions).
  *
  * Exactness: rank labels are engine-local (Spark packs or densifies,
  * DuckDB uses dense_rank), but every output is a COUNT over
  * rank-equality classes — invariant under any injective relabeling —
  * so the hash gate is exact with no collision caveat (unlike hashed
  * k-gram counting, a rank is never lossy).
  *
  * Scale shape: see [[repLadder]] — pairs come from a positional
  * `lead()` window (one shuffle, never a self-join), labels pack as
  * r1·bound+r2 (a narrow map) on most rounds and densify contiguously
  * only when the packed range would overflow (2 of 7 rounds at the
  * measured decade), and levels round-trip through temp parquet so
  * heap residency is sort buffers only. No window ever sees a single
  * global partition (docs key the lead; labels key the dup counts;
  * null labels split off so they can't form one skewed partition).
  */
object SaRepeats {

  val MaxLevel = 128 // levels 1,2,4,...,128

  /** Per-doc repeat-start counts from a stored level: positions whose
    * label is duplicated corpus-wide. Doc-sized and LAZY: for k ≥ 2 the
    * level is a parquet read, so recomputation is a tiny column scan —
    * the r15 profile showed 7 eager per-level materializations costing
    * ~2 s of pure action barriers; deferring them lets the final join
    * compute every level's counts in ONE action with the scans
    * overlapping (guide §2.6). Level files are retained until the
    * consumer runs (see [[repLadderThen]]). */
  private def repCounts(level: DataFrame, k: Int): DataFrame =
    level.filter(col("dup"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as(s"rep_$k"))

  /** The repeat ladder: (level -> per-doc rep counts) for levels
    * 1,2,4,...,maxLevel over a (doc_id, pos, ch) frame.
    *
    * Round shape (all measured at the 100x decade, 178M positions):
    *
    *   - PAIRS BY WINDOW, NOT SELF-JOIN: rank_k(p+k) is `lead(r, k)`
    *     over (doc, pos) -- position rows are kept COMPLETE per doc
    *     (tail positions carry null labels), so the lead is positional.
    *     One shuffle+sort instead of the two-sort sort-merge self-join
    *     the first implementation paid twice per round (the probe
    *     showed ~50s/round of pure pair-join recompute).
    *
    *   - PACKED LABELS when they fit: with labels contiguous in
    *     [0, bound), the pair relabels as r1*bound + r2 -- a NARROW
    *     map, exactly injective, no distinct/join-back at all -- as
    *     long as bound^2 < 2^63. Labels grow quadratically, so every
    *     other round DENSIFIES: contiguous labels over the distinct
    *     pair table (range-partition, per-partition row_number + a
    *     collected offset vector -- O(#partitions) driver state), then
    *     one join-back (broadcast when the pair vocabulary is small,
    *     as it is in early rounds: 257 -> 5k -> 183k distinct). Only
    *     2 of 7 rounds pay the densify at the decade.
    *
    *   - DUP FLAG IN-PASS: each level stores (doc_id, pos, r, dup)
    *     where dup = this label occurs >= 2 times (a count window over
    *     the label, null rows split off so the null "group" never
    *     becomes one skewed window partition). rep_k is then a plain
    *     doc-keyed count over the stored level.
    *
    *   - TEMP PARQUET between rounds: level tables are position-sized;
    *     holding them on-heap OOMed a 16 GB heap at the decade (and
    *     lineage doubles per round without a cut -- measured OOM in
    *     plan stringification). Columnar temp storage is also what a
    *     real distributed SA build does between rounds at 100 TB.
    *
    *   - SINGLETON PRUNING: dup at 2k requires both halves dup at k
    *     (dup is a label property, so pair counts over dup rows alone
    *     are exact). Complete rounds restrict the count window to
    *     candidate rows and null non-dup labels; once the dup fraction
    *     falls below `pruneBelow`, levels store ONLY dup rows and pair
    *     via a union-shift groupBy — on natural text most positions go
    *     unique within 2-3 rounds, so late rounds shuffle a remnant.
    *
    * The final level never feeds another round, so it skips labeling
    * entirely: dup comes straight off a count window over the raw pair.
    *
    * `densifyAbove` exists for the spec: forcing it low exercises the
    * densify path on fixtures that would otherwise always pack;
    * `pruneBelow` = 0 pins complete mode, > 1 prunes from round one
    * (the spec drives both and equality with the default). */
  private[graft] def repLadder(chars: DataFrame, maxLevel: Int,
                               densifyAbove: Long = 3000000000L,
                               pruneBelow: Double = 0.5): Seq[(Int, DataFrame)] =
    // spec/tool surface: frames must stay usable after return, so each
    // is materialized before the level files are dropped
    repLadderThen(chars, maxLevel, densifyAbove, pruneBelow)(
      _.map { case (k, rep) => (k, Materialize(rep)) })

  /** Run `consume` over the (level → lazy per-doc rep counts) ladder
    * BEFORE the temp level files are removed — the query path builds its
    * final join inside `consume` and materializes every level's counts
    * in one action. */
  private[graft] def repLadderThen[T](chars: DataFrame, maxLevel: Int,
                                      densifyAbove: Long = 3000000000L,
                                      pruneBelow: Double = 0.5)(
                                      consume: Seq[(Int, DataFrame)] => T): T = {
    val spark = chars.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // `consume` materializes everything it needs before the levels go
    graft.Scratch.using("p33c") { tmp =>
      // level files use the session's parquet codec (a codec A/B in r15
      // measured 23.3 s vs 24.2 s, within noise)
      def store(df: DataFrame, k: Int): DataFrame = {
        df.write.mode("overwrite").parquet(s"$tmp/lvl_$k")
        spark.read.parquet(s"$tmp/lvl_$k")
      }
      // SINGLETON PRUNING (the classic prefix-doubling optimization): a
      // pair is dup at level 2k only if BOTH halves are dup at level k --
      // dup is a property of the LABEL (count >= 2), so every occurrence
      // of a dup pair has both positions flagged, and counting pairs over
      // dup-flagged rows alone is EXACT. Consequences exploited below:
      //   (1) complete mode: the label-count window runs over CANDIDATE
      //       rows only (dup(p) && dup(p+k)); non-candidates are provably
      //       non-dup and their labels are nulled -- a future candidate
      //       never consumes a non-dup label (its halves must be dup), so
      //       injectivity is only required among dup labels;
      //   (2) once the dup fraction drops below `pruneBelow`, the level
      //       table keeps ONLY dup rows -- on natural text most of the
      //       corpus becomes unique within 2-3 rounds, so late rounds
      //       shuffle a small remnant instead of all positions. Pairing
      //       then uses a union-shift groupBy on (doc, pos) (rows are
      //       sparse, so the positional lead() no longer applies).
      // level 1: contiguous vocabulary labels -- the char vocabulary is
      // model-sized (all distinct code points), one tiny collect. Level
      // 1 is NEVER stored: it is a narrow pipe (scan + split + explode
      // + broadcast label join, no shuffle) cheaper to recompute for
      // its two consumers (rep1, round-1 window) than to round-trip
      // 178M rows through parquet.
      val vocab = chars.groupBy($"ch").agg(count(lit(1)).as("nr"))
        .orderBy($"ch").as[(String, Long)].collect()
      val labelDf = broadcast(
        vocab.zipWithIndex.map { case ((c, nr), i) => (c, i.toLong, nr >= 2L) }
          .toSeq.toDF("ch", "r", "dup"))
      var bound = vocab.length.toLong
      var cur = chars.join(labelDf, "ch")
        .select($"doc_id", $"pos", when($"dup", $"r").as("r"), $"dup")
      val total = math.max(vocab.map(_._2).sum, 1L) // Σ char counts = positions
      var pruned = false
      def dupTotal(rep: DataFrame, k: Int): Long =
        rep.agg(coalesce(sum(col(s"rep_$k")), lit(0L))).head().getLong(0)
      // level 1 is never stored, so its rep frame IS materialized (two
      // consumers — the prune decision and the final join — must not
      // re-run the corpus explode)
      val rep1 = Materialize(repCounts(cur, 1))
      if (dupTotal(rep1, 1).toDouble / total < pruneBelow) pruned = true
      val out = scala.collection.mutable.ArrayBuffer[(Int, DataFrame)]((1, rep1))
      var k = 1
      val wDoc = Window.partitionBy($"doc_id").orderBy($"pos")
      while (2 * k <= maxLevel) {
        val kk = k
        // Candidate pairs: (doc_id, pos, r1, r2), both halves dup. In
        // complete mode non-candidate rows ride along (cand = false)
        // because the NEXT round's lead() needs complete rows; in pruned
        // mode only candidates exist.
        val paired: DataFrame =
          if (!pruned) {
            cur.select($"doc_id", $"pos", $"r".as("r1"),
              lead($"r", kk).over(wDoc).as("r2"),
              coalesce($"dup" && lead($"dup", kk).over(wDoc), lit(false)).as("cand"))
          } else {
            val a = cur.filter($"dup").select($"doc_id", $"pos",
              $"r".as("r1"), lit(null).cast("long").as("r2"))
            val b = cur.filter($"dup").select($"doc_id",
              ($"pos" - kk).cast("int").as("pos"),
              lit(null).cast("long").as("r1"), $"r".as("r2"))
            a.unionByName(b).groupBy($"doc_id", $"pos")
              .agg(max($"r1").as("r1"), max($"r2").as("r2"))
              .filter($"r1".isNotNull && $"r2".isNotNull)
              .withColumn("cand", lit(true))
          }
        // Every branch below consumes `paired` EXACTLY ONCE (the lead
        // window over all positions is the round's dominant cost — a
        // branch-and-union shape would re-execute it per branch):
        //   final  → one count window over candidates, dup-only store;
        //   packed → ONE pass: candidates key by the packed pair,
        //            non-candidates by a unique negative salt (their
        //            count is 1 → dup=false, no union, no skewed null
        //            partition);
        //   densify→ `paired` is materialized to parquet first, so the
        //            dist/join-back/ballast consumers re-read a column
        //            file instead of re-running the window.
        def storeLevel(labeled: DataFrame): DataFrame =
          store(if (pruned || 4 * k > maxLevel) labeled.filter($"dup") else labeled, 2 * k)
        val next: DataFrame =
          if (4 * k > maxLevel) {
            // last level: labels never consumed again -- dup straight
            // off a count window over the raw pair (candidates only;
            // non-candidates are non-dup by the lemma and rep-counting
            // ignores them)
            val wP = Window.partitionBy($"r1", $"r2")
            storeLevel((if (pruned) paired else paired.filter($"cand"))
              .withColumn("dup", count(lit(1)).over(wP) >= 2)
              .select($"doc_id", $"pos", lit(null).cast("long").as("r"), $"dup"))
          } else if (bound <= densifyAbove) {
            // packed: narrow relabel, dup via one count window (packed
            // labels never span the cand/non-cand boundary: equal
            // labels share dup flags, so candidate-only counting is
            // exact and each non-candidate is alone under its salt)
            val wK = Window.partitionBy($"key")
            val lab = paired
              .withColumn("key", when($"cand", $"r1" * lit(bound) + $"r2")
                .otherwise(-monotonically_increasing_id() - 1))
              .withColumn("dup", $"cand" && count(lit(1)).over(wK) >= 2)
              .select($"doc_id", $"pos", when($"dup", $"key").as("r"), $"dup")
            bound = bound * bound
            storeLevel(lab)
          } else {
            // densify: contiguous labels over the distinct CANDIDATE
            // pair table (non-candidates need no label at all)
            paired.write.mode("overwrite").parquet(s"$tmp/pair_$k")
            val src = spark.read.parquet(s"$tmp/pair_$k")
            val candPairs = src.filter($"cand")
            val dist = candPairs
              .groupBy($"r1", $"r2").agg(count(lit(1)).as("nr"))
              .repartitionByRange($"r1", $"r2")
              .withColumn("pid", spark_partition_id())
            // cached: pid must agree between the offsets job and the join
            Materialize.scoped(dist) {
              val cnts = dist.groupBy($"pid").agg(count(lit(1)).as("n"))
                .orderBy($"pid").as[(Int, Long)].collect()
              var acc = 0L
              val offs = cnts.map { case (pid, n) => val o = (pid, acc); acc += n; o }
              bound = math.max(acc, 1L)
              val offDf = broadcast(offs.toSeq.toDF("pid", "off"))
              val wPid = Window.partitionBy($"pid").orderBy($"r1", $"r2")
              val ranks = dist.join(offDf, "pid")
                .withColumn("r", $"off" + row_number().over(wPid) - 1)
                .select($"r1", $"r2", $"r", ($"nr" >= 2).as("dup"))
              val labCand = candPairs.join(ranks, Seq("r1", "r2"), "left")
                .select($"doc_id", $"pos",
                  when($"dup", $"r").as("r"),
                  coalesce($"dup", lit(false)).as("dup"))
              storeLevel(if (pruned) labCand
                else labCand.unionByName(src.filter(!$"cand")
                  .select($"doc_id", $"pos",
                    lit(null).cast("long").as("r"), lit(false).as("dup"))))
            }
          }
        // pair files are fully consumed within this round's store; level
        // files are RETAINED until `consume` runs (lazy rep counts read
        // them — ≤ position-sized columnar temp, the honest cost of a
        // single-action final rollup)
        graft.Scratch.delete(s"$tmp/pair_$k")
        k = 2 * k
        val rep = repCounts(next, k)
        out += ((k, rep))
        if (!pruned && dupTotal(rep, k).toDouble / total < pruneBelow)
          pruned = true
        cur = next
      }
      consume(out.toSeq)
    }
  }

  /** p33c: per-doc repeat-start counts at every power-of-two length —
    * rep_ℓ = positions whose ℓ-char prefix occurs ≥ 2 times in the
    * corpus (any doc, raw suffix-array semantics). */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // chars stays UNPERSISTED: each consumer is a narrow recompute
    // (scan+split+explode, no shuffle) — caching 178M row objects cost
    // more in memory churn than the rescans (measured at the decade)
    val chars = Tables.documents(spark, dir)
      .select($"doc_id",
        posexplode(filter(split($"text", ""), x => x =!= lit(""))))
      .withColumnRenamed("col", "ch")
    // n_chars narrowly from the doc table (≡ chars-count per doc); docs
    // with no characters stay absent, matching the oracle's grouped ch
    val perDoc = Tables.documents(spark, dir)
      .select($"doc_id",
        size(filter(split($"text", ""), x => x =!= lit(""))).cast("long").as("n_chars"))
      .filter($"n_chars" > 0)
    // the final join runs INSIDE the ladder's consume window: every
    // level's per-doc counts are lazy scans of the retained level files,
    // so the rollup is ONE action with the 8 level aggregations
    // overlapping, instead of 8 sequential materialization barriers
    repLadderThen(chars, MaxLevel) { levels =>
      val joined = levels.map(_._2)
        .foldLeft(perDoc)((acc, r) => acc.join(r, Seq("doc_id"), "left"))
      Materialize(levels.map(_._1).foldLeft(joined) { (df, k) =>
        df.withColumn(s"rep_$k", coalesce(col(s"rep_$k"), lit(0L)))
      }.orderBy($"doc_id"))
    }
  }

  /** DuckDB replay: the same doubling recurrence with dense_rank (label
    * values differ from Spark's — equality classes, and therefore every
    * count, are identical), one CTE per level + per-level dup counts. */
  val oracleSql: String = {
    val levels = Iterator.iterate(1)(_ * 2).takeWhile(_ <= MaxLevel).toSeq
    val rounds = levels.tail.map { k =>
      val h = k / 2
      s"""t$k AS (
           SELECT a.doc_id, a.p, dense_rank() OVER (ORDER BY a.r, b.r) AS r
           FROM t$h a JOIN t$h b ON a.doc_id = b.doc_id AND b.p = a.p + $h)"""
    }.mkString(",\n       ")
    val dupCtes = levels.map { k =>
      s"""c$k AS (
           SELECT doc_id, count(*) AS rep_$k FROM (
             SELECT doc_id, p, count(*) OVER (PARTITION BY r) AS nr FROM t$k) x
           WHERE nr >= 2 GROUP BY doc_id)"""
    }.mkString(",\n       ")
    val joins = levels.map(k => s"LEFT JOIN c$k USING (doc_id)").mkString(" ")
    val sel = levels.map(k => s"CAST(coalesce(rep_$k, 0) AS BIGINT) AS rep_$k").mkString(", ")
    s"""WITH ch0 AS (
         SELECT doc_id, regexp_split_to_array(text, '') AS cl FROM documents),
       ch AS (
         SELECT doc_id, unnest([{'p': i - 1, 'ch': cl[i]}
                                for i in range(1, len(cl) + 1)], recursive := true)
         FROM ch0),
       t1 AS (
         SELECT doc_id, p, dense_rank() OVER (ORDER BY ch) AS r FROM ch),
       $rounds,
       $dupCtes,
       nd AS (SELECT doc_id, count(*) AS n_chars FROM ch GROUP BY doc_id)
       SELECT doc_id, n_chars, $sel
       FROM nd $joins
       ORDER BY doc_id"""
  }

  // p33c: prefix-doubling rank recurrence replayed with dense_rank —
  // label values differ by engine, equality-class COUNTS are identical
  def specs: Seq[QuerySpec] = Seq(QuerySpec("p33c_sa_repeats", query, Some(oracleSql)))
}
