package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec}

/** §2.5 S13 (s13): STREAMING CHANGE-FEED CONSUMER — the other half of
  * U20: a downstream materialized view maintained INCREMENTALLY from
  * the change feed, never rescanning the base table (the Delta-CDF /
  * "incremental ETL" consumer pattern; what a 100 TB pipeline does
  * instead of nightly full recomputes). The commits of U11's versioned
  * layout arrive as a file stream (maxFilesPerTrigger=1 forces many
  * micro-batches); each batch:
  *
  *   1. collapses its rows per key to the NET batch effect (LWW by
  *      version with U19's op precedence) — intermediate hops inside
  *      one batch telescope away, which is exactly why the maintained
  *      aggregate is batching-invariant (the s5 associativity
  *      argument, proven here by the in-query gate);
  *   2. classifies net effects against the persisted STATE table
  *      (insert / update / delete — U20's image semantics against
  *      state-so-far instead of lag());
  *   3. applies the per-status DELTS to the persisted aggregate
  *      (+post on insert, −pre on delete, −pre+post on update) and
  *      LWW-merges the state (tombstones KEPT as rows so stale
  *      lower-version arrivals stay stale);
  *
  * so per-batch cost ∝ batch size + touched keys — never table size.
  * The final aggregate must equal a from-scratch aggregate of
  * readAsOf(max version) — REQUIRED in-query, and the driver output is
  * hash-gated against the oracle's direct resolution.
  *
  * State/aggregate round-trip versioned parquet (s5's crash-safe
  * listing-derived versions), the honest stand-in for a transactional
  * sink; at scale the state merge is U6's one keyed shuffle per batch.
  */
object ChangeFeedStream {

  /** LWW winner per key INCLUDING tombstone rows (state keeps them so
    * late lower-version rows classify stale); U19's D>U>I tie-break. */
  private def lwwKeepTombstones(df: DataFrame, keyCol: String): DataFrame = {
    val opRank = when(col("deleted"), 2).otherwise(0)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("version").desc, opRank.desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** One micro-batch: net effect vs state → status deltas → new state
    * + new aggregate versions. */
  private[streaming] def applyBatch(spark: SparkSession, root: String,
                                    batch: DataFrame): Unit = {
    val v = EventStreams.latestStateVersion(root)
    val state = spark.read.parquet(s"$root/state_$v")
    val agg = spark.read.parquet(s"$root/agg_$v")
    val net = lwwKeepTombstones(
      batch.select(col("k"), col("price"), col("status"), col("deleted"), col("version")), "k")
    val joined = net.join(
      state.select(col("k"), col("price").as("pre_price"),
        col("status").as("pre_status"), col("deleted").as("pre_deleted"),
        col("version").as("pre_version")),
      Seq("k"), "left")
      // stale guard: a batch whose net version lost to state is a no-op
      .filter(col("pre_version").isNull || col("version") > col("pre_version"))
    // cached and computed EAGERLY (batch-sized): both the aggregate-delta
    // write and the state write below consume `joined` — uncached, the
    // batch's LWW window + state join ran TWICE per micro-batch
    // (measured via QueryProfile: the two writes dominate the batch);
    // released once both writes are done
    Materialize.scoped(joined) {
      joined.count()
      val preLive = col("pre_version").isNotNull && !col("pre_deleted")
      // per-status deltas in INTEGER CENTS: −pre where a live pre-image
      // leaves a status, +post where a live post-image enters one. Cents
      // make the delta algebra EXACT — double money sums drift ~1e-12
      // relative at decade row counts, enough to flip a 2dp rounding and
      // break batching-invariance (the q27 decimal-money lesson).
      def cents(c: org.apache.spark.sql.Column) =
        round(c * lit(100.0), 0).cast("long")
      val minus = joined.filter(preLive)
        .select(col("pre_status").as("status"), lit(-1L).as("dn"),
          (-cents(col("pre_price"))).as("dp"))
      val plus = joined.filter(!col("deleted"))
        .select(col("status"), lit(1L).as("dn"), cents(col("price")).as("dp"))
      val aggDelta = minus.unionByName(plus)
        .groupBy(col("status")).agg(sum(col("dn")).as("dn"), sum(col("dp")).as("dp"))
      val newAgg = agg.join(aggDelta, Seq("status"), "full")
        .select(col("status"),
          (coalesce(col("n_keys"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_keys"),
          (coalesce(col("sum_cents"), lit(0L)) + coalesce(col("dp"), lit(0L))).as("sum_cents"))
        .filter(col("n_keys") > 0)
      val newState = state.join(joined.select(col("k")), Seq("k"), "left_anti")
        .unionByName(joined.select(col("k"), col("price"), col("status"),
          col("deleted"), col("version")))
      // aggregate first, STATE last: latestStateVersion counts only
      // _SUCCESS-marked state dirs, so agg_N exists whenever state_N is
      // visible; a crash between the writes replays the batch, which the
      // stale guard above makes a no-op re-merge (s5's idempotency)
      newAgg.write.mode("overwrite").parquet(s"$root/agg_${v + 1}")
      newState.write.mode("overwrite").parquet(s"$root/state_${v + 1}")
    }
  }

  /** s13: write U11's three commits, stream them one file per trigger,
    * maintain the downstream per-status aggregate incrementally, gate
    * against the from-scratch aggregate, emit the aggregate. */
  def s13StreamChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    graft.Scratch.collected("s13") { d =>
      val (feedRoot, mvRoot) = (s"$d/feed", s"$d/mv")
      // ONE file per commit: with maxFilesPerTrigger=1 below, a micro-batch
      // IS a commit — the production CDF consumption granularity. (The
      // first decade run wrote 32 files per commit → ~100 micro-batches,
      // each paying a full state rewrite: 476s of pure re-merging. Batch
      // size must track the COMMIT, not the writer's partition count; the
      // spec's batching-invariance tests still drive odd splits.)
      graft.operators.VersionedTable.commits(spark, dir).zipWithIndex.foreach {
        case (c, i) => graft.operators.VersionedTable.commit(c.coalesce(1), feedRoot, i + 1)
      }
      // empty state/aggregate at version 0
      val emptyState = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        spark.read.parquet(feedRoot).select(
          col("k"), col("price"), col("status"), col("deleted"),
          col("version").cast("int").as("version")).schema)
      emptyState.write.mode("overwrite").parquet(s"$mvRoot/state_0")
      emptyState.groupBy(col("status"))
        .agg(count(lit(1)).as("n_keys"),
             sum(round(col("price") * lit(100.0), 0).cast("long")).as("sum_cents"))
        .write.mode("overwrite").parquet(s"$mvRoot/agg_0")
      val schema = spark.read.parquet(feedRoot).drop("version").schema
      val stream = spark.readStream.schema(schema)
        .option("basePath", feedRoot)
        .option("maxFilesPerTrigger", "1")
        .parquet(feedRoot)
      val t0 = System.nanoTime()
      val q = EventStreams.withStateParts(spark)(EventStreams.runToEnd("s13_ck")(stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) applyBatch(spark, mvRoot, batch)
        }
        .trigger(Trigger.AvailableNow())))
      StreamMeters.record("s13_stream_change_feed", (System.nanoTime() - t0) / 1e9,
        StreamMeters.batchSeconds(q))
      val finCents = spark.read
        .parquet(s"$mvRoot/agg_${EventStreams.latestStateVersion(mvRoot)}")
      // the incremental view must equal the from-scratch resolution —
      // compared in EXACT integer cents (no double-sum association drift
      // at any scale)
      val direct = graft.operators.VersionedTable.readAsOf(spark, feedRoot, 3)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_keys"),
             sum(round(col("price") * lit(100.0), 0).cast("long")).as("sum_cents"))
      val got = finCents.orderBy(col("status")).collect().toSeq
      val want = direct.orderBy(col("status")).collect().toSeq
      require(got == want,
        s"s13 gate: incremental view $got != from-scratch $want")
      val fin = finCents.select(col("status"), col("n_keys"),
        round(col("sum_cents") / lit(100.0), 2).as("sum_price"))
      fin.orderBy(col("status"))
    }
  }

  /** DuckDB replay: u11's commit construction resolved at v3, grouped
    * per status — the state the incremental consumer must land on. */
  val oracleSql: String =
    """WITH base AS (
         SELECT o_orderkey AS k, o_totalprice AS price FROM orders),
       hist AS (
         SELECT k, price, 'BASE' AS status, false AS deleted, 1 AS version
           FROM base WHERE k % 3 != 2
         UNION ALL
         SELECT k, price, 'U2', false, 2 FROM base WHERE k % 5 = 0
         UNION ALL
         SELECT k, NULL, NULL, true, 2 FROM base WHERE k % 7 = 0 AND k % 5 != 0
         UNION ALL
         SELECT k, price, 'U3', false, 3 FROM base WHERE k % 7 = 0 AND k % 2 = 0
         UNION ALL
         SELECT k, price, 'U3', false, 3 FROM base WHERE k % 11 = 0 AND k % 7 != 0),
       resolved AS (
         SELECT k, price, status FROM (
           SELECT *, row_number() OVER (PARTITION BY k ORDER BY version DESC) AS rn
           FROM hist) t
         WHERE rn = 1 AND NOT deleted)
       SELECT status, count(*) AS n_keys,
              round(sum(CAST(round(price * 100.0, 0) AS BIGINT)) / 100.0, 2) AS sum_price
       FROM resolved GROUP BY status ORDER BY status"""

  // s13: the incremental consumer must land on u11's resolved v3
  def specs: Seq[QuerySpec] =
    Seq(QuerySpec("s13_stream_change_feed", s13StreamChangeFeed, Some(oracleSql)))
}
