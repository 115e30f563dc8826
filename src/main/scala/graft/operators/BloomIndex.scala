package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, QuerySpec}

/** §2.4 U13: per-file BLOOM-FILTER point-lookup index — the Delta
  * bloom-index / Parquet-bloom shape on plain parquet: a table laid out
  * by its natural write order (date-clustered) still has to answer
  * point lookups on a SECONDARY key (customer, user, url). Min/max
  * stats (u12) can't prune those — a customer's orders scatter across
  * every date file's key envelope — but a per-file bloom on the
  * secondary key can: probe each file's bloom, read only the files
  * that might contain the key, apply the residual row filter.
  *
  * At 100 TB: lookup cost becomes ∝ (files that actually hold the
  * key) + (false-positive files), independent of table size — the
  * manifest is one row per file and the probe is a metadata query, the
  * same driver-side planning step u12/u8 perform. False positives are
  * CORRECTNESS-NEUTRAL (the residual filter removes them); a false
  * NEGATIVE is impossible because build and probe use the identical
  * hash family.
  *
  * Bloom construction is bounded BY CONSTRUCTION: the layout writer
  * caps `maxRecordsPerFile`, so the per-file aggregation buffer (the
  * set of set-bit positions, the sparse form of an m-bit array) is
  * bounded by k·maxRecords regardless of table size — sizing m off
  * the writer's cap is how the bits-per-key ratio (~8 here, fpp ≈ 3%
  * at a full file) stays fixed at any scale.
  */
object BloomIndex {

  /** m = 2¹⁹ bits, k = 3 hashes, files capped at 64Ki records →
    * ≥ 8 bits/key even for an all-distinct file. */
  val MBits = 1 << 19
  val KHashes = 3
  val MaxRecordsPerFile = 65536

  /** The k bit positions for a key: pmod(xxhash64(i, key), m) — the
    * seed column makes the k hashes independent. */
  private def positions(key: Column): Column =
    array((0 until KHashes).map(i =>
      pmod(xxhash64(lit(i), key), lit(MBits.toLong)).cast("int")): _*)

  /** Write `df` range-clustered by `clusterCol` (the natural layout)
    * with the per-file record cap that bounds bloom sizing. */
  def writeClustered(df: DataFrame, clusterCol: String, nParts: Int,
                     path: String): Unit =
    df.repartitionByRange(nParts, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", MaxRecordsPerFile.toLong)
      .parquet(path)

  /** Per-file bloom manifest on `keyCol`: (file, bits) where bits is
    * the sorted set of set positions. One scan at layout-build time,
    * map-side combinable (collect_set partial-aggregates). */
  def buildManifest(spark: SparkSession, path: String, keyCol: String): DataFrame =
    spark.read.parquet(path)
      .select(input_file_name().as("file"),
              explode(positions(col(keyCol))).as("pos"))
      .groupBy(col("file"))
      .agg(sort_array(collect_set(col("pos"))).as("bits"))

  /** A file's bloom admits `key` iff all k probe bits are set. */
  private def admits(key: Long): Column =
    (0 until KHashes).map(i =>
      array_contains(col("bits"),
        pmod(xxhash64(lit(i), lit(key)), lit(MBits.toLong)).cast("int")))
      .reduce(_ && _)

  /** Files whose bloom admits `key`. */
  def filesForKey(manifest: DataFrame, key: Long): Seq[String] =
    filesForKeys(manifest, Seq(key))

  /** Files whose bloom admits ANY of `keys` — ONE manifest pass / ONE
    * collect job for the whole batch (the probe-bit arrays are computed
    * per key up front and OR-ed into a single filter), not O(keys)
    * driver round-trips. */
  def filesForKeys(manifest: DataFrame, keys: Seq[Long]): Seq[String] =
    if (keys.isEmpty) Seq.empty
    else manifest.filter(keys.map(admits).reduce(_ || _))
      .select(col("file")).collect().map(_.getString(0)).toSeq

  /** Bloom-pruned point lookup for `keyCol IN keys`: union the probed
    * file sets, read only those files, apply the residual filter (the
    * bloom is a maybe, not a proof). */
  def lookupScan(spark: SparkSession, path: String, manifest: DataFrame,
                 keyCol: String, keys: Seq[Long]): DataFrame = {
    val files = filesForKeys(manifest, keys)
    val base =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          spark.read.parquet(path).schema)
      else spark.read.parquet(files: _*)
    base.filter(col(keyCol).isin(keys: _*))
  }

  /** u13: orders laid out date-clustered, bloom-indexed on o_custkey,
    * then a 3-customer point lookup served through the bloom-pruned
    * scan; the oracle runs the same lookup on the raw table — pruning
    * is only correct if invisible. */
  def u13BloomIndexQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.Scratch.collected("bloom") { tmp =>
      writeClustered(graft.Tables.orders(spark, dir), "o_orderdate", 8, tmp)
      // one row per file; built once per layout
      val manifest = Materialize(buildManifest(spark, tmp, "o_custkey"))
      lookupScan(spark, tmp, manifest, "o_custkey", Seq(1L, 7L, 42L))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
             round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_custkey"))
    }
  }

  val oracleSql: String =
    """SELECT o_custkey, count(*) AS n_orders,
              round(sum(o_totalprice), 2) AS sum_price
       FROM orders
       WHERE o_custkey IN (1, 7, 42)
       GROUP BY o_custkey
       ORDER BY o_custkey"""

  def specs: Seq[QuerySpec] = Seq(QuerySpec("u13_bloom_index", u13BloomIndexQuery, Some(oracleSql)))
}
