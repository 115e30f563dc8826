package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec, Tables}

/** Training-data pipeline operators beyond the dedup/quality pack:
  * deterministic corpus splitting, sequence packing, benchmark
  * decontamination, and document chunking. All four are pure column
  * algebra / keyed shuffles — no driver-side state — and each driver
  * query carries an exact DuckDB oracle.
  */
object TrainingOps {

  /** Deterministic hash split: bucket = first 32 bits of
    * md5("split:" + id) mod 100. Content-addressed (stable under
    * re-partitioning, retries, and incremental reruns — the same row
    * always lands in the same split) and exactly replayable in SQL,
    * unlike `randomSplit`, which is seed- AND partitioning-dependent.
    * At 100 TB this is a zero-shuffle map: the bucket is computed
    * per-row from the key alone. */
  def assignSplit(df: DataFrame, idCol: String,
                  trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val bucket = conv(substring(md5(concat(lit("split:"),
      col(idCol).cast("string"))), 1, 8), 16, 10).cast("long") % 100
    df.withColumn("split",
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** p16: stratified split report — per (source, split) doc counts and
    * char mass over the 80/10/10 hash split. */
  def splitQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = assignSplit(Tables.documents(spark, dir), "doc_id")
    docs.groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("n_chars_total"))
      .orderBy(col("source"), col("split"))
  }

  /** p17: sequence packing (concat-and-chunk): within each source,
    * documents are concatenated in doc_id order and cut into fixed
    * `seqLen`-token training sequences; a document belongs to the
    * sequence where it STARTS (exclusive running token count div
    * seqLen). Per-source packing keeps the running sum a partitioned
    * window — no global ordering — so the operator parallelizes by
    * source shard at scale. */
  def packQuery(spark: SparkSession, dir: String, seqLen: Int = 512): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_idx", expr(s"cum_before div $seqLen"))
      .groupBy(col("source"), col("seq_idx"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("n_tokens"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("seq_idx"))
  }

  /** p18: benchmark decontamination — flag training documents sharing
    * ≥ `minShared` distinct lowercase word 8-grams with any benchmark
    * document (here: doc_id % 37 == 0 plays the benchmark set). The
    * join runs on fused-codegen xxhash64 shingle keys
    * (`token_shingle_hashes`, sorted-distinct per doc) — a bounded
    * 64-bit key instead of raw text, which is what survives a 100 TB
    * shuffle — and the per-doc dedup means a repeated phrase can't
    * inflate the overlap count. (This replaced an interpreted
    * `transform`+`array_join`+md5 pipeline: same answer — the oracle
    * joins gram strings, a 64-bit collision would hash-mismatch — at a
    * fraction of the CPU and with no interpreter in the hot path.) */
  def contaminationQuery(spark: SparkSession, dir: String,
                         n: Int = 8, minShared: Int = 3): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .filter(size(split(lower(col("text")), "\\s+")) >= n)
      .select(col("doc_id"), explode(
        graft.functions.HashFunctions.token_shingle_hashes(lower(col("text")), n))
        .as("gh"))
    // both join sides branch off this relation — cache it or the
    // shingle+hash pipeline executes twice
    Materialize.scoped(grams) {
      val bench = grams.filter(col("doc_id") % 37 === 0)
        .select(col("doc_id").as("bench_doc"), col("gh"))
      val train = grams.filter(col("doc_id") % 37 =!= 0)
        .select(col("doc_id").as("train_doc"), col("gh"))
      Materialize(train.join(bench, "gh")       // tiny pair list
        .groupBy(col("train_doc"), col("bench_doc"))
        .agg(count(lit(1)).as("n_shared"))   // (doc, gh) deduped above
        .filter(col("n_shared") >= minShared)
        .orderBy(col("train_doc"), col("bench_doc")))
    }
  }

  /** p53: DECONTAMINATED SPLIT — the composition production pipelines
    * actually run: p18's benchmark-overlap detection feeding p16's
    * content-addressed split, with every contaminated doc QUARANTINED
    * out of train/val/test entirely (dropping it from train but
    * leaving it in val/test would leak the benchmark into evaluation —
    * quarantine is the conservative contract). Corpus docs (non-bench)
    * get the p16 hash split unless they share ≥ minShared distinct
    * word-8-grams with any benchmark doc; the report is the per
    * (source, split) funnel the recipe is judged by.
    *
    * Scale shape: p18's gram join emits the contaminated-doc set
    * (small — it is an anti-quality signal), which joins back LEFT
    * onto the corpus; the split itself stays row-local. */
  def decontaminatedSplitQuery(spark: SparkSession, dir: String,
                               n: Int = 8, minShared: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val contaminated = contaminationQuery(spark, dir, n, minShared)
      .select(col("train_doc").as("doc_id")).distinct()
      .withColumn("quarantine", lit(true))
    assignSplit(docs.filter(col("doc_id") % 37 =!= 0), "doc_id")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("split",
        when(col("quarantine"), "quarantine").otherwise(col("split")))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("n_chars_total"))
      .orderBy(col("source"), col("split"))
  }

  /** Deterministic mixture resampling: down-sample each source to a
    * target keep-rate (per mille) with the same content-addressed hash
    * as [[assignSplit]] — the way a training mix is rebalanced toward
    * target source proportions. Zero-shuffle, stable under retries,
    * and exactly replayable in SQL. Sources not in `keepPerMille` keep
    * everything. */
  def resampleMixture(df: DataFrame, idCol: String, sourceCol: String,
                      keepPerMille: Map[String, Int]): DataFrame = {
    val bucket = conv(substring(md5(concat(lit("mix:"),
      col(idCol).cast("string"))), 1, 8), 16, 10).cast("long") % 1000
    val rate = keepPerMille.foldLeft(lit(1000): Column) { case (acc, (src, r)) =>
      when(col(sourceCol) === src, lit(r)).otherwise(acc)
    }
    df.filter(bucket < rate)
  }

  /** p20: mixture report — sources 0–3 down-sampled to 50%/25%/10%/75%,
    * the rest kept whole; per-source surviving doc counts and char mass. */
  def mixtureQuery(spark: SparkSession, dir: String): DataFrame = {
    val kept = resampleMixture(Tables.documents(spark, dir), "doc_id", "source",
      Map("src0" -> 500, "src1" -> 250, "src2" -> 100, "src3" -> 750))
    kept.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("n_chars_total"))
      .orderBy(col("source"))
  }

  /** p19: overlapping character chunking (size 200, stride 150) with a
    * content hash per chunk — the RAG/window-context shape. Bounded to
    * doc_id < 100 so the driver check stays small; the operator itself
    * is per-row column algebra (explode of a bounded sequence). */
  def chunkQuery(spark: SparkSession, dir: String,
                 size0: Int = 200, stride: Int = 150): DataFrame = {
    Tables.documents(spark, dir)
      .filter(col("doc_id") < 100 && length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), length(col("text")) - 1, lit(stride))).as("cs"))
      .withColumn("chunk_start", col("cs").cast("long"))
      .withColumn("chunk_idx", expr(s"chunk_start div $stride"))
      .withColumn("chunk", col("text").substr(
        (col("chunk_start") + 1).cast("int"), lit(size0)))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        length(col("chunk")).cast("long").as("chunk_len"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** p32: per-user ordered event-sequence assembly — the "build a
    * training example from a user's interaction history" shape
    * (conversation threading, clickstream LMs, session transformers).
    *
    * Scale design: the per-user cap is enforced BEFORE the collect with
    * a partitioned row_number window (ordered by (ts, event_id) so the
    * rank is total and replayable), which bounds both the window state
    * and the downstream `collect_list` buffer to `cap` rows per user —
    * a power user with 10M events costs the same as one with 256. The
    * whole operator is ONE shuffle on user_id (the window's partition
    * key is reused by the groupBy). Ordering inside the aggregate never
    * relies on collect_list's arrival order: the rank is carried into
    * the struct and `array_sort` re-establishes it exactly, so the
    * rendered sequence is partition/merge-order independent and the
    * DuckDB oracle (`string_agg ... ORDER BY rn`) replays it
    * hash-exact. */
  def sequenceQuery(spark: SparkSession, dir: String, cap: Int = 256): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("ts_us"))
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    ev.withColumn("rn", row_number().over(w))
      .filter($"rn" <= cap)
      .withColumn("tok", concat_ws("@", $"event_type", $"ts_us"))
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_events"),
        min($"ts_us").as("first_ts_us"),
        max($"ts_us").as("last_ts_us"),
        array_sort(collect_list(struct($"rn", $"tok"))).as("arr"))
      .select($"user_id", $"n_events", $"first_ts_us", $"last_ts_us",
        md5(concat_ws("|", expr("transform(arr, x -> x.tok)"))).as("seq_md5"))
      .orderBy($"user_id")
  }

  /** §2.3 P56 (p56): deterministic per-EPOCH training-order shuffle +
    * shard assignment — the "global shuffle" every training run needs,
    * done content-addressed instead of with `orderBy(rand())`. Every
    * doc gets an order key md5("order:<epoch>:"+id): the epoch salt
    * gives each epoch an independent pseudorandom permutation (the
    * published reshuffle-each-epoch practice) while staying exactly
    * reproducible across reruns, retries, and partitioning — rand()
    * is none of those. Shard = first 32 bits of the key mod nShards:
    * a zero-shuffle per-row map (the assignSplit trick), so shard
    * routing costs nothing; the within-shard order is ONE keyed
    * shuffle partitioned by shard. At 100 TB you size nShards so a
    * shard is a few GB (tens of thousands of shards): assignment
    * stays zero-shuffle, each shard sorts independently, and the
    * training job streams shards in shard/pos order — no global sort
    * ever happens.
    *
    * The query emits one row per shard with an md5 DIGEST over the
    * pos-ordered doc ids (the sequenceQuery pattern): compact, and the
    * hash gate certifies the ENTIRE permutation — key derivation,
    * shard routing, and within-shard order — not just counts. */
  /** Per-row core: (id, shard, pos) — the epoch-salted order key routes
    * each row to a shard (zero-shuffle map) and ranks it within the
    * shard (one keyed shuffle). md5 ties are broken by id, so the
    * permutation is total even under (astronomically unlikely) key
    * collisions. */
  def trainOrder(df: DataFrame, idCol: String,
                 epoch: Int, nShards: Int): DataFrame = {
    val key = md5(concat(lit(s"order:$epoch:"), col(idCol).cast("string")))
    val routed = df
      .select(col(idCol), key.as("k"))
      .withColumn("shard",
        conv(substring(col("k"), 1, 8), 16, 10).cast("long") % nShards)
    val w = Window.partitionBy(col("shard")).orderBy(col("k"), col(idCol))
    routed.withColumn("pos", row_number().over(w))
  }

  def trainOrderQuery(spark: SparkSession, dir: String,
                      epoch: Int = 1, nShards: Int = 8): DataFrame = {
    import spark.implicits._
    trainOrder(Tables.documents(spark, dir), "doc_id", epoch, nShards)
      .groupBy($"shard")
      .agg(
        count(lit(1)).as("n_docs"),
        array_sort(collect_list(struct($"pos", $"doc_id".cast("string").as("d")))).as("arr"))
      .select($"shard", $"n_docs",
        md5(concat_ws("|", expr("transform(arr, x -> x.d)"))).as("order_md5"))
      .orderBy($"shard")
  }

  val trainOrderOracleSql: String =
    """WITH k AS (
         SELECT doc_id,
                md5('order:1:' || CAST(doc_id AS VARCHAR)) AS k
         FROM documents),
       routed AS (
         SELECT doc_id, k,
                CAST(('0x' || substring(k, 1, 8)) AS BIGINT) % 8 AS shard
         FROM k),
       ordered AS (
         SELECT shard, doc_id,
                row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos
         FROM routed)
       SELECT shard, count(*) AS n_docs,
              md5(string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY pos))
                AS order_md5
       FROM ordered GROUP BY shard ORDER BY shard"""

  val sequenceOracleSql: String =
    """WITH capped AS (
         SELECT user_id, event_type, epoch_us(ts) AS ts_us,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS rn
         FROM events
       )
       SELECT user_id, count(*) AS n_events,
              min(ts_us) AS first_ts_us, max(ts_us) AS last_ts_us,
              md5(string_agg(event_type || '@' || ts_us, '|' ORDER BY rn))
                AS seq_md5
       FROM capped WHERE rn <= 256
       GROUP BY user_id ORDER BY user_id"""

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("p32_sequences", (s, d) => sequenceQuery(s, d), Some(sequenceOracleSql)),
    QuerySpec("p56_train_order", (s, d) => trainOrderQuery(s, d), Some(trainOrderOracleSql)),
    QuerySpec("p53_decon_split", (s, d) => decontaminatedSplitQuery(s, d), Some(
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
         grams AS (
           SELECT doc_id,
             unnest(list_distinct([array_to_string(w[i:i+7], ' ')
               for i in range(1, len(w) - 6)])) AS gram
           FROM toks WHERE len(w) >= 8),
         bench AS (SELECT doc_id AS bench_doc, gram FROM grams WHERE doc_id % 37 = 0),
         train AS (SELECT doc_id AS train_doc, gram FROM grams WHERE doc_id % 37 != 0),
         contaminated AS (
           SELECT DISTINCT train_doc AS doc_id FROM (
             SELECT train_doc, bench_doc, count(*) AS n_shared
             FROM train JOIN bench USING (gram) GROUP BY 1, 2) p
           WHERE n_shared >= 3),
         assigned AS (
           SELECT d.source, d.n_chars,
             CASE WHEN c.doc_id IS NOT NULL THEN 'quarantine'
                  WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
           FROM (
             SELECT doc_id, source, n_chars,
               CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
             FROM documents WHERE doc_id % 37 != 0) d
           LEFT JOIN contaminated c USING (doc_id))
         SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_total
         FROM assigned
         GROUP BY source, split
         ORDER BY source, split""")),
    // p16: replay the content-addressed hash split (first 32 bits of
    // md5("split:"+id) mod 100) and the stratified report.
    QuerySpec("p16_split", (s, d) => splitQuery(s, d), Some(
      """SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_total
         FROM (
           SELECT source, n_chars,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
           FROM (
             SELECT source, n_chars,
               CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
             FROM documents) t1) t2
         GROUP BY source, split
         ORDER BY source, split""")),
    // p17: concat-and-chunk sequence packing — exclusive running token
    // count per source, div 512 assigns each doc its starting sequence.
    QuerySpec("p17_pack", (s, d) => packQuery(s, d), Some(
      """SELECT source, seq_idx, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM (
           SELECT source, doc_id, n_tokens,
             CAST(CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) // 512 AS BIGINT) AS seq_idx
           FROM (
             SELECT source, doc_id,
               CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
             FROM documents) t1) t2
         GROUP BY source, seq_idx
         ORDER BY source, seq_idx""")),
    // p18: word-8-gram overlap between the training split and the
    // benchmark set (doc_id % 37 == 0). The Spark side joins md5(gram)
    // keys; this replay joins the gram strings themselves — identical
    // output (the gate would catch any hash collision).
    QuerySpec("p18_contamination", (s, d) => contaminationQuery(s, d), Some(
      """WITH toks AS (
           SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
         grams AS (
           SELECT doc_id,
             unnest(list_distinct([array_to_string(w[i:i+7], ' ')
               for i in range(1, len(w) - 6)])) AS gram
           FROM toks WHERE len(w) >= 8),
         bench AS (SELECT doc_id AS bench_doc, gram FROM grams WHERE doc_id % 37 = 0),
         train AS (SELECT doc_id AS train_doc, gram FROM grams WHERE doc_id % 37 != 0),
         pairs AS (
           SELECT train_doc, bench_doc, CAST(count(*) AS BIGINT) AS n_shared
           FROM train JOIN bench USING (gram) GROUP BY 1, 2)
         SELECT train_doc, bench_doc, n_shared
         FROM pairs WHERE n_shared >= 3
         ORDER BY train_doc, bench_doc""")),
    // p19: overlapping char chunks (size 200, stride 150) + content md5.
    QuerySpec("p19_chunks", (s, d) => chunkQuery(s, d), Some(
      """SELECT doc_id, CAST(chunk_start // 150 AS BIGINT) AS chunk_idx,
           chunk_start, CAST(length(chunk) AS BIGINT) AS chunk_len,
           md5(chunk) AS chunk_md5
         FROM (
           SELECT doc_id, chunk_start,
             substring(text, CAST(chunk_start + 1 AS INT), 200) AS chunk
           FROM (
             SELECT doc_id, text, unnest(range(0, length(text), 150)) AS chunk_start
             FROM documents WHERE doc_id < 100 AND length(text) > 0) t1) t2
         ORDER BY doc_id, chunk_idx""")),
    // p20: mixture resampling — replay the per-source keep-rates over
    // the same content-addressed hash (mod 1000) and summarize survivors.
    QuerySpec("p20_mixture", mixtureQuery, Some(
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_total
         FROM (
           SELECT source, n_chars,
             CAST(('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS b
           FROM documents) t
         WHERE b < CASE source WHEN 'src0' THEN 500 WHEN 'src1' THEN 250
                               WHEN 'src2' THEN 100 WHEN 'src3' THEN 750
                               ELSE 1000 END
         GROUP BY source
         ORDER BY source""")))
}
