package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QuerySpec, Tables}
import graft.functions.VectorOps
import graft.ml.ModelOracles.PlaceholderRoot

/** §2.3 P7: LSH-bucketed approximate nearest neighbors.
  *
  * Random-hyperplane (sign) LSH with OR-amplification: `numTables`
  * independent tables of `planesPerTable` hyperplanes each. A corpus
  * vector is a candidate for a query iff they share a bucket in ANY
  * table. Exact sequential-double cosine then ranks the candidates.
  *
  * Hyperplanes are generated from a fixed seed — deterministic across
  * runs and engines, no data pass needed.
  *
  * Scale: signatures are one linear pass (broadcastable literal planes,
  * codegen'd dot products). The bucket join shuffles on (table, key);
  * buckets are balanced for near-random data, and skewed buckets can be
  * salted or capped. This replaces the O(n²) cross product of brute
  * force with O(n · avg-bucket-size).
  */
object LshAnn {

  /** Deterministic Gaussian hyperplanes: tables × planes × dim. */
  def hyperplanes(numTables: Int, planesPerTable: Int, dim: Int,
                  seed: Long = 42L): Seq[Seq[Array[Double]]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numTables)(Seq.fill(planesPerTable)(Array.fill(dim)(rng.nextGaussian())))
  }

  /** All per-table bucket keys of a vector in ONE fused expression
    * (array<long>, one slot per table). The naive Column form — one
    * `dot_product(vec, array(64 literals))` per plane — expands to
    * tables×planes separate expressions; at 12×18 = 216 of them the
    * generated projection blows past the JIT/codegen method-size limits
    * and the whole stage runs interpreted (measured: 150s to bucket a
    * 200k×64 corpus, vs ~2s fused). Same packed sign bits, same
    * sequential-double dot products, so keys are bit-identical. */
  def bucketKeys(vec: Column, tables: Seq[Seq[Array[Double]]]): Column =
    org.apache.spark.sql.graft.GraftShim.column(
      HyperplaneBucketKeys(
        org.apache.spark.sql.graft.GraftShim.expression(vec),
        HyperplaneTables(tables.map(_.toArray).toArray)))

  /** Attach (table_idx, bucket_key) rows, exploded. */
  private def withBuckets(df: DataFrame, vecCol: String,
                          tables: Seq[Seq[Array[Double]]]): DataFrame =
    df.select(col("*"), posexplode(bucketKeys(col(vecCol), tables)))
      .withColumnRenamed("pos", "table_idx")
      .withColumnRenamed("col", "bucket_key")

  /** Approximate top-k neighbors per query via shared LSH buckets. */
  def annTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, numTables: Int = 8,
              planesPerTable: Int = 4, dim: Int = 64): DataFrame = {
    val tables = hyperplanes(numTables, planesPerTable, dim)
    val c = withBuckets(
      corpus.select(col(idCol).as("neighbor_id"),
                    VectorOps.toDoubleArray(col(vecCol)).as("nvec")), "nvec", tables)
    val q = withBuckets(
      queries.select(col(idCol).as("query_id"),
                     VectorOps.toDoubleArray(col(vecCol)).as("qvec")), "qvec", tables)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    q.join(c, Seq("table_idx", "bucket_key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos", graft.functions.GraftFunctions.cosine_sim(col("qvec"), col("nvec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
              round(col("cos"), 6).as("cos_sim"))
  }

  /** p7: approximate top-10 for the first 5 vectors, ANNOTATED with
    * measured recall vs the exact top-k and failing fast below the
    * floor. Hash-gated since r13 (persisted hyperplanes, full bucket
    * replay). The floor is deliberately modest: this corpus's
    * embeddings are near-random (cosines ≈ 0), the adversarial regime
    * for sign-LSH — real near-dup corpora sit far above it (the spec
    * asserts ≈1.0 on planted neighbors). */
  private val persisted = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Persist the p7 hyperplane tensor (once per sf-dir per JVM) so the
    * oracle can replay the bucketing: the planes are seeded-
    * deterministic, but a JVM Gaussian stream is not SQL — on disk the
    * packed-sign keys, the bucket join, and the cosine rank all become
    * plain arithmetic (the p7b/p7c/p7d persist-and-replay discipline,
    * closing the last index path that was rows-only). */
  private def persistPlanes(spark: SparkSession, dir: String,
                            tables: Seq[Seq[Array[Double]]]): Unit =
    if (persisted.add(dir)) {
      val rows = for {
        (planes, t) <- tables.zipWithIndex
        (p, j) <- planes.zipWithIndex
      } yield (t, j, p.toSeq)
      spark.createDataFrame(rows).toDF("tbl", "plane", "vec")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${graft.ml.ModelOracles.modelRoot(dir)}/p7_planes")
    }

  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val q = e.filter($"vec_id" < 5)
    persistPlanes(spark, dir, hyperplanes(8, 4, 64))
    AnnRecall.annotate(
        annTopK(e, q, "vec_id", "embedding", 10),
        e, q, "vec_id", "embedding", 10,
        minRecall = 0.2, label = "p7_ann_lsh")
      .orderBy($"query_id", $"rank")
  }

  /** DuckDB replay from the persisted hyperplanes: per-table packed
    * sign keys (bit j set iff vec·plane_j > 0, STRICT — the engine's
    * packing), bucket equi-join on (table, key), distinct candidate
    * pairs, exact cosine rank (p6's proven form), recall annotation. */
  val oracleSql: String = {
    val cos =
      """list_sum(list_transform(list_zip(q.embedding, n.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          * sqrt(list_sum(list_transform(n.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""
    s"""WITH pl AS (
         SELECT tbl, plane, vec
         FROM read_parquet('$PlaceholderRoot/p7_planes/*.parquet')),
       keys AS (
         SELECT e.vec_id, pl.tbl,
           sum(CASE WHEN list_sum(list_transform(list_zip(e.embedding, pl.vec),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) > 0
               THEN (CAST(1 AS BIGINT) << pl.plane) ELSE 0 END) AS key
         FROM embeddings e CROSS JOIN pl
         GROUP BY e.vec_id, pl.tbl),
       cand AS (
         SELECT DISTINCT qk.vec_id AS query_id, ck.vec_id AS neighbor_id
         FROM keys qk
         JOIN keys ck ON ck.tbl = qk.tbl AND ck.key = qk.key
         WHERE qk.vec_id < 5 AND ck.vec_id <> qk.vec_id),
       approx AS (
         SELECT query_id, neighbor_id, rank, round(cs, 6) AS cos_sim FROM (
           SELECT c.query_id, c.neighbor_id, $cos AS cs,
             row_number() OVER (PARTITION BY c.query_id ORDER BY $cos DESC, c.neighbor_id) AS rank
           FROM cand c
           JOIN embeddings q ON q.vec_id = c.query_id
           JOIN embeddings n ON n.vec_id = c.neighbor_id) t
         WHERE rank <= 10),
       exact AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rank
           FROM (
             SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, $cos AS cs
             FROM embeddings q, embeddings n
             WHERE q.vec_id < 5 AND q.vec_id <> n.vec_id) t1) t2
         WHERE rank <= 10),
       ov AS (
         SELECT a.query_id, count(*) AS n_overlap
         FROM approx a JOIN exact e
           ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         GROUP BY a.query_id)
       SELECT a.query_id, a.neighbor_id, a.rank, a.cos_sim,
         CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS exact_overlap,
         CAST(10 AS BIGINT) AS k,
         round(coalesce(ov.n_overlap, 0) / 10.0, 6) AS recall
       FROM approx a LEFT JOIN ov ON a.query_id = ov.query_id
       ORDER BY a.query_id, a.rank"""
  }

  def specs: Seq[QuerySpec] = Seq(QuerySpec("p7_ann_lsh", query, Some(oracleSql)))
}

/** The hyperplane tensor (tables × planes × dim) with the executor-side
  * tight loop: per table, pack sign(vec · plane_j) bits into a long. Held
  * as ONE codegen reference object so key computation is a single compiled
  * call regardless of tables × planes (see [[LshAnn.bucketKeys]]). */
final case class HyperplaneTables(tables: Array[Array[Array[Double]]])
    extends Serializable {
  def keysFromArrayData(
      a: org.apache.spark.sql.catalyst.util.ArrayData): Array[Long] = {
    val x = a.toDoubleArray()
    val out = new Array[Long](tables.length)
    var t = 0
    while (t < tables.length) {
      val planes = tables(t)
      var key = 0L
      var j = 0
      while (j < planes.length) {
        val p = planes(j)
        val n = math.min(x.length, p.length)
        var s = 0.0
        var i = 0
        while (i < n) { s += x(i) * p(i); i += 1 }
        if (s > 0) key |= (1L << j)
        j += 1
      }
      out(t) = key
      t += 1
    }
    out
  }
}

/** Fused per-table LSH bucket keys over an array<double> column. Compares
  * by content and shape (tables × planes × dim) and explains as
  * `planes[TxPxD]`, never as an array hash. */
case class HyperplaneBucketKeys(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    planes: HyperplaneTables)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with graft.functions.TableExpr {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types._

  override def prettyName: String = "hyperplane_bucket_keys"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient override protected lazy val tableRows: Array[Array[Double]] =
    planes.tables.flatten
  override protected def tableGroups: Array[Int] = planes.tables.map(_.length)
  override protected def tableShape: String = {
    val t = planes.tables
    val p = t.headOption.map(_.length).getOrElse(0)
    val d = t.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)
    s"planes[${t.length}x${p}x$d]"
  }

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(planes.keysFromArrayData(a.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hyperplaneTables", planes,
      classOf[HyperplaneTables].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
      s"$ref.keysFromArrayData($a));")
  }

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): HyperplaneBucketKeys =
    copy(child = c)
}
