package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec}
import graft.ml.ModelOracles.PlaceholderRoot

/** Cluster-scale join utilities — the patterns that keep 100 TB joins
  * from dying on shuffles or skew. Demonstrated + spec-tested at small
  * scale; the mechanics (bucketed tables, salted keys) are identical on
  * a 1000-executor cluster.
  */
object ScaleOps {

  /** Write both sides bucketed by the join key: subsequent joins between
    * the two tables are co-located — no exchange on either side (the
    * sort-merge join reads bucket files directly). This is the standard
    * Spark answer to "co-partitioned joins" for repeatedly-joined fact
    * tables. */
  def writeBucketed(df: DataFrame, key: String, buckets: Int,
                    table: String, path: String): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Salted join for skewed keys: explode the build (small) side into
    * `salt` replicas and scatter the probe side's hot keys uniformly, so
    * one hot key spreads over `salt` reducers instead of melting one.
    *
    * probe ⋈ build on probe(probeKey) = build(buildKey), both sides get
    * a salt column mixed into the join key. */
  def saltedJoin(probe: DataFrame, build: DataFrame,
                 probeKey: String, buildKey: String, salt: Int): DataFrame = {
    // salt from a hash of ALL probe columns: content-deterministic (the
    // same row always lands on the same replica, unlike rand() or
    // monotonically_increasing_id(), which depend on partition layout
    // and would reshuffle rows across retries) and uniform enough to
    // spread a hot key over `salt` reducers — correctness only needs the
    // salt to match ONE of the build side's replicas, which all exist
    val probeS = probe.withColumn("__salt",
      pmod(xxhash64(probe.columns.map(col): _*), lit(salt)))
    val buildS = build
      .withColumn("__salt", explode(array((0 until salt).map(lit): _*)))
    probeS.join(buildS,
        probeS(probeKey) === buildS(buildKey) && probeS("__salt") === buildS("__salt"))
      .drop("__salt")
  }

  /** u1: driver-visible bucketed-join query — writes orders and customer
    * bucketed by custkey (8 buckets) into a temp warehouse path, joins
    * through the catalog tables, and aggregates per market segment. The
    * oracle computes the same aggregate from the raw tables, proving the
    * bucketed write/read path loses nothing; the exchange-free plan shape
    * itself is asserted by ScaleOpsSpec. Table names carry a unique run
    * suffix (concurrent sessions share a metastore) and both the tables
    * and the temp dir are dropped once the aggregate materializes. */
  def u1BucketedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val runId = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val ordersTable = s"graft_u1_orders_$runId"
    val customerTable = s"graft_u1_customer_$runId"
    try graft.Scratch.collected("buckets") { tmp =>
      writeBucketed(graft.Tables.orders(spark, dir), "o_custkey", 8,
        ordersTable, s"$tmp/orders")
      writeBucketed(graft.Tables.customer(spark, dir), "c_custkey", 8,
        customerTable, s"$tmp/customer")
      spark.table(ordersTable)
        .join(spark.table(customerTable),
              col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
             round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("c_mktsegment"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $ordersTable")
      spark.sql(s"DROP TABLE IF EXISTS $customerTable")
    }
  }

  /** Range-partition + sort: the write layout for range-pruned scans
    * (timestamp ranges prune files via min/max stats). */
  def writeRangeLayout(df: DataFrame, rangeCol: String, partitions: Int,
                       path: String): Unit =
    df.repartitionByRange(partitions, col(rangeCol))
      .sortWithinPartitions(col(rangeCol))
      .write.mode("overwrite").parquet(path)

  /** Compact a parquet dataset toward `targetMB` per output file — the
    * small-files remedy for long-running ingest (NameNode/listing
    * pressure, tiny-task overhead). Reads the current footprint from the
    * filesystem, repartitions to ceil(bytes/target), and rewrites. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetMB: Int = 256): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inPath), spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(inPath)).getLength
    val parts = math.max(1, math.ceil(bytes.toDouble / (targetMB.toLong << 20)).toInt)
    spark.read.parquet(inPath).repartition(parts)
      .write.mode("overwrite").parquet(outPath)
    spark.read.parquet(outPath)
  }

  /** u5: driver-visible compaction query — rewrites lineitem compacted
    * and aggregates the compacted copy; the oracle aggregates the raw
    * table, proving the rewrite is lossless. */
  def u5CompactionQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.Scratch.collected("compact") { tmp =>
      compact(spark, s"$dir/lineitem.parquet", tmp, targetMB = 64)
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
             round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_linestatus"))
    }
  }

  /** u2: driver-visible salted-join query — lineitem (probe, hot keys)
    * ⋈ supplier (build, replicated per salt) via [[saltedJoin]], then a
    * per-nation aggregate. The oracle runs the plain join: equality
    * proves salting never changes join semantics, only the shuffle
    * layout. */
  def u2SaltedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val line = graft.Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_extendedprice"))
    val supp = graft.Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    saltedJoin(line, supp, "l_suppkey", "s_suppkey", salt = 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"),
           round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("s_nationkey"))
  }

  /** u3: driver-visible range-layout query — events rewritten
    * range-partitioned+sorted by ts into a temp path, then a time-range
    * aggregate over the pruned layout. The oracle aggregates the raw
    * table: equality proves the layout rewrite is lossless (file
    * pruning via min/max stats is the scale win; the spec asserts the
    * plan shape). */
  /** 16-bit Morton bit-spread (x → every other bit), pure column bit
    * algebra so it stays inside whole-stage codegen. */
  private def spread16(x: Column): Column = {
    val m = x.bitwiseAND(lit(0xFFFFL))
    val a = m.bitwiseOR(shiftleft(m, 8)).bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val c = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order (Morton) value over two dimensions' low 16 bits: rows close
    * in BOTH dimensions get close z-values, so a range-partitioned,
    * sorted layout on z clusters the file/row-group space for
    * two-dimensional predicates — min/max stats then prune scans that
    * filter either or both dimensions, where a single-column sort only
    * serves its leading column. */
  def zValue(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Rewrite `df` range-partitioned + sorted by z(a, b). */
  def writeZorderLayout(df: DataFrame, colA: String, colB: String,
                        partitions: Int, path: String): Unit =
    df.withColumn("__z", zValue(col(colA), col(colB)))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** u7: driver query — z-order events by (user_id, event-minute), then
    * run a two-dimensional slice through the rewritten layout; the
    * oracle runs the same slice on the raw table, so the rewrite is
    * proven lossless while the layout clusters both predicate columns. */
  def u7ZorderQuery(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.Tables.events(spark, dir)
      .withColumn("__minute", (unix_millis(col("ts")) / lit(60000L)).cast("long"))
    graft.Scratch.collected("zorder") { tmp =>
      writeZorderLayout(events, "user_id", "__minute", 8, tmp)
      spark.read.parquet(tmp)
        .filter(col("user_id").between(100, 300) &&
          col("ts") >= lit("2024-01-02").cast("timestamp") &&
          col("ts") < lit("2024-01-03").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    }
  }

  /** Last-writer-wins merge/upsert (the lakehouse MERGE INTO shape):
    * base ∪ updates, keep the highest `versionCol` row per key. One
    * keyed shuffle; at scale the window runs partition-local after the
    * hash exchange on the key, and pairs naturally with [[writeBucketed]]
    * output so repeated merge cycles skip the exchange entirely. */
  def upsert(base: DataFrame, updates: DataFrame,
             keyCols: Seq[String], versionCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc)
    base.unionByName(updates)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** u6: driver query — apply a deterministic update batch (every 13th
    * order re-statused and re-priced at version 2) onto the orders base
    * (version 1) and summarize the merged state. */
  def u6UpsertQuery(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.orders(spark, dir)
    val base = orders
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .withColumn("version", lit(1L))
    val updates = orders.filter(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
              (col("o_totalprice") + lit(100.0)).as("o_totalprice"))
      .withColumn("version", lit(2L))
    upsert(base, updates, Seq("o_orderkey"), "version")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** u8: hive-style partitioned layout + partition pruning — the
    * workhorse layout for 100 TB fact tables. Events are rewritten
    * partitioned by event_date (directory-per-day); a date-ranged query
    * then touches only the matching directories — the filter resolves
    * against the file listing, before any row is read (vs u3's range
    * layout, which prunes via row-group stats INSIDE files). The oracle
    * recomputes the same aggregate from the unpartitioned table, proving
    * the partitioned rewrite + pruned read lossless; ScaleOpsSpec
    * asserts the plan actually prunes (partition count + pushed
    * partition filters). */
  def writeDatePartitioned(df: DataFrame, tsCol: String, outPath: String): Unit =
    df.withColumn("event_date", to_date(col(tsCol)))
      .write.partitionBy("event_date").mode("overwrite").parquet(outPath)

  def u8PartitionPruneQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.Scratch.collected("datepart") { tmp =>
      writeDatePartitioned(graft.Tables.events(spark, dir), "ts", tmp)
      spark.read.parquet(tmp)
        .filter(col("event_date") >= lit("2024-01-10").cast("date") &&
                col("event_date") <= lit("2024-01-12").cast("date"))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             round(sum(col("value")), 2).as("sum_value"))
        .select(col("event_date").cast("timestamp").as("event_day"),
                col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("event_day"), col("event_type"))
    }
  }

  /** u9: runtime bloom-filter join pruning — Catalyst's InjectRuntimeFilter
    * builds a bloom filter from the SELECTIVE side of an equi-join at
    * runtime and pushes `might_contain` onto the probe side's scan, so a
    * 100 TB fact table skips rows (and with min/max + dictionary stats,
    * whole row groups) that the build side would reject anyway. Off by
    * default; the query turns it on with test-scale thresholds — on a
    * real cluster only the enable flag changes. The oracle computes the
    * same join from the raw tables (a filter can only be correct if it's
    * invisible in the result); ScaleOpsSpec asserts the plan actually
    * carries the bloom probe. */
  /** Session confs that make InjectRuntimeFilter fire at test scale —
    * shared with ScaleOpsSpec so the spec asserts the exact
    * configuration the query runs. On a real cluster only the enable
    * flag changes (the default thresholds are sized for 10 GB+ scans).
    * The broadcast threshold is disabled because broadcast joins don't
    * need a runtime filter (the hash table IS the filter). */
  val RuntimeFilterConfs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** Run `body` with session confs set, restoring prior values after.
    * ASSUMES sequential query execution (true for Verify/Bench, which
    * run one query at a time): the confs are mutated on the SHARED
    * session, so a concurrently-running query would observe them. If
    * queries ever run concurrently, switch to `spark.newSession()` for
    * the conf-scoped body. */
  def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  def u9RuntimeFilterQuery(spark: SparkSession, dir: String): DataFrame =
    withConfs(spark, RuntimeFilterConfs) {
      val sel = graft.Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"))
      val agg = graft.Tables.lineitem(spark, dir)
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"),
             round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("l_returnflag"))
      // materialize under the session confs; withConfs restores after
      graft.Scratch.local(agg)
    }

  /** u10: the ANN index AS A DISK LAYOUT — writes the [[graft.sim.IvfPqAnn]]
    * index (PQ codes of cell residuals) as a hive-partitioned inverted
    * file (`.partitionBy("cell")`), then serves probes through a
    * partition-PRUNED read: the probe filter is a literal cell list, so
    * the scan touches only `nprobe` of the `nlist` partition directories
    * — at 100 TB each cell is a directory of posting files, and a query
    * reads `nprobe/nlist` of the corpus bytes, which is precisely how
    * disk-resident IVF indexes (FAISS on-disk, SCaNN, Vespa) lay out
    * postings. ScaleOpsSpec asserts the pruning on the physical plan.
    *
    * Both the postings and the probe assignments persist under the
    * model root, and the DuckDB oracle recomputes the per-query candidate
    * aggregates from those SAME files (the ModelOracles replay pattern) —
    * so a green row certifies the partitioned write, the pruned read, and
    * the code roundtrip end-to-end. */
  def u10IvfLayoutQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.sim.{IvfAnn, PqAnn}
    import graft.functions.VectorOps
    val root = graft.ml.ModelOracles.modelRoot(dir)
    val nlist = 16; val nprobe = 3; val m = 4; val kCode = 16
    val e = graft.Tables.embeddings(spark, dir)
    val centroids = IvfAnn.fitCentroids(e, "embedding", nlist)
    // materialize (cell, resid) before the m·k codeword expressions
    // reference them — same CollapseProject explosion guard as IvfPqAnn
    val base = Materialize(e.select(col("vec_id"),
        VectorOps.toDoubleArray(col("embedding")).as("v"))
      .withColumn("cell", IvfAnn.cellOf(col("v"), centroids))
      .withColumn("resid", graft.functions.CodebookExpressions
        .centroidResidual(col("v"), col("cell"), centroids)))
    val codebooks = PqAnn.fitCodebooks(base.select(col("resid")), "resid", m, kCode)
    base.select(col("vec_id"),
        PqAnn.encode(col("resid"), codebooks).as("codes"), col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/u10_postings")
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
              VectorOps.toDoubleArray(col("embedding")).as("qv"))
      .withColumn("cell", explode(IvfAnn.probeCellsCol(
        IvfAnn.distances(col("qv"), centroids), nlist, nprobe)))
      .select(col("query_id"), col("cell"))
    probes.coalesce(1).write.mode("overwrite").parquet(s"$root/u10_probes")
    val probesR = spark.read.parquet(s"$root/u10_probes")
    // literal cell list (≤ nlist values, one tiny driver action) → STATIC
    // partition pruning on the postings scan, not a runtime filter
    val probedCells = probesR.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val res = prunedPostingsScan(spark, s"$root/u10_postings", probedCells)
      .join(probesR, Seq("cell"))
      .groupBy(col("query_id"))
      .agg(countDistinct(col("cell")).as("n_cells"),
           count(lit(1)).as("n_candidates"),
           sum(col("vec_id")).as("id_checksum"),
           sum(aggregate(col("codes"), lit(0L),
             (acc, x) => acc + x.cast("long"))).as("code_checksum"))
      .orderBy(col("query_id"))
    graft.Scratch.local(res)   // files stay: the oracle replays them
  }

  /** The pruned read by itself, shared with ScaleOpsSpec's plan assert. */
  private[graft] def prunedPostingsScan(spark: SparkSession, path: String,
                                        cells: Array[Int]): DataFrame =
    spark.read.parquet(path)
      .filter(col("cell").isin(cells.map(Integer.valueOf): _*))

  def u3RangeLayoutQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.Scratch.collected("range") { tmp =>
      writeRangeLayout(graft.Tables.events(spark, dir), "ts", 8, tmp)
      spark.read.parquet(tmp)
        .filter(col("ts") >= lit("2024-01-02").cast("timestamp") &&
                col("ts") <  lit("2024-01-03").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    }
  }

  def specs: Seq[QuerySpec] = Seq(
    // u8: the date-partitioned rewrite + pruned read must be lossless —
    // same 3-day aggregate over the raw table.
    QuerySpec("u8_partition_prune", u8PartitionPruneQuery, Some(
      """SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_day, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
         FROM events
         WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
         GROUP BY 1, 2 ORDER BY 1, 2""")),
    // u9: a runtime bloom filter may only PRUNE, never change results —
    // same join computed plain.
    QuerySpec("u9_runtime_filter", u9RuntimeFilterQuery, Some(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem JOIN (
           SELECT o_orderkey FROM orders
           WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 10 = 0) o
           ON l_orderkey = o_orderkey
         GROUP BY l_returnflag ORDER BY l_returnflag""")),
    // u10: the partition-pruned probe read must return exactly the probed
    // cells' postings — replay the per-query candidate aggregates from
    // the SAME persisted postings + probes files (read unpruned here: a
    // layout optimization may only skip bytes, never change results).
    QuerySpec("u10_ivf_layout", u10IvfLayoutQuery, Some(
      s"""SELECT q.query_id,
           CAST(count(DISTINCT p.cell) AS BIGINT) AS n_cells,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(p.vec_id) AS BIGINT) AS id_checksum,
           CAST(sum(list_aggregate(p.codes, 'sum')) AS BIGINT) AS code_checksum
         FROM read_parquet('$PlaceholderRoot/u10_postings/*/*.parquet', hive_partitioning=1) p
         JOIN read_parquet('$PlaceholderRoot/u10_probes/*.parquet') q
           ON CAST(p.cell AS BIGINT) = CAST(q.cell AS BIGINT)
         GROUP BY q.query_id ORDER BY q.query_id""")),
    // u6: last-writer-wins merge of the deterministic update batch.
    QuerySpec("u6_upsert", u6UpsertQuery, Some(
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
         FROM (
           SELECT o_orderkey, o_orderstatus, o_totalprice,
             row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
           FROM (
             SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version FROM orders
             UNION ALL
             SELECT o_orderkey, 'U' AS o_orderstatus,
               o_totalprice + 100.0 AS o_totalprice, 2 AS version
             FROM orders WHERE o_orderkey % 13 = 0) u) t
         WHERE rn = 1
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus""")),
    // u7: the z-ordered rewrite must be lossless — same two-dimensional
    // slice over the raw table.
    QuerySpec("u7_zorder_layout", u7ZorderQuery, Some(
      """SELECT event_type, count(*) AS n_events,
           round(sum(value), 2) AS sum_value
         FROM events
         WHERE user_id BETWEEN 100 AND 300
           AND ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03'
         GROUP BY event_type
         ORDER BY event_type""")),
    // u1 goes through bucketed catalog tables; the oracle reads raw
    // parquet — equality proves the bucketed write/read path is lossless.
    QuerySpec("u1_bucketed_join", u1BucketedJoinQuery, Some(
      """SELECT c_mktsegment, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS sum_price
         FROM orders, customer
         WHERE o_custkey = c_custkey
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""")),
    // u2/u3: the oracle runs the un-salted join / the raw table scan —
    // equality proves the scale layouts change plans, not answers.
    QuerySpec("u2_salted_join", u2SaltedJoinQuery, Some(
      """SELECT s_nationkey, count(*) AS n_items,
         round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem, supplier
         WHERE l_suppkey = s_suppkey
         GROUP BY s_nationkey
         ORDER BY s_nationkey""")),
    QuerySpec("u3_range_layout", u3RangeLayoutQuery, Some(
      """SELECT event_type, count(*) AS n_events,
         round(sum(value), 2) AS sum_value
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03'
         GROUP BY event_type
         ORDER BY event_type""")),
    QuerySpec("u5_compaction", u5CompactionQuery, Some(
      """SELECT l_linestatus, count(*) AS n_rows,
         round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem
         GROUP BY l_linestatus
         ORDER BY l_linestatus""")))
}
