package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec
import ModelOracles.PlaceholderRoot

/** m16: SPARSE ICF end-to-end (the fidelity half of M16, next to
  * m14/m15's Nyström half): greedy-pivot incomplete Cholesky over the
  * 32768-dim sparse doc fixture through [[Icf.factorizeSparse]] — the
  * reference's own icf.cc algorithm in its own data regime (psvm runs
  * ICF on sparse document rows; densified, each pivot broadcast would
  * carry 370× the bytes and each kernel term 1400× the flops).
  *
  * Gate (the m4 pattern): the built factor H persists to parquet, and
  * the output certifies the approximation identity K ≈ H·Hᵀ on a pair
  * panel — k_exact from the integer-exact sparse RBF (the m14/m15
  * oracle CTEs replay it from the raw documents), k_icf = ⟨h_a, h_b⟩
  * replayed from the persisted factor. Hash-exact end-to-end; the
  * SparseMlSpec twin additionally pins factorizeSparse ≡ factorize at
  * the double-bits level on densified data.
  */
object SparseIcfQuery {

  val Rank = 16
  val Gamma = 0.01

  private val built = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private[ml] def icfH(spark: SparkSession, dir: String): DataFrame =
    built.computeIfAbsent(dir, _ => {
      val fixture = SparseMlQueries.sparseDocVectors(spark, dir)
      ModelOracles.writeFactor(spark, s"${ModelOracles.modelRoot(dir)}/m16_icf_h",
        Icf.factorizeSparse(fixture, "doc_id", "indices", "values", Kernel.Rbf(Gamma), Rank))
    })

  def query(spark: SparkSession, dir: String): DataFrame = {
    val h = icfH(spark, dir)
    val v = SparseMlQueries.sparseDocVectors(spark, dir)
      .filter(col("doc_id") < 20)
    val a = v.select(col("doc_id").as("id_a"), col("indices").as("ia"),
        col("values").as("va"))
      .join(h.select(col("id").as("id_a"), col("icf_features").as("ha")), Seq("id_a"))
    val b = v.select(col("doc_id").as("id_b"), col("indices").as("ib"),
        col("values").as("vb"))
      .join(h.select(col("id").as("id_b"), col("icf_features").as("hb")), Seq("id_b"))
    a.join(b, col("id_a") <= col("id_b"))
      .withColumn("__ke", Kernel.Rbf(Gamma).sparse(col("ia"), col("va"), col("ib"), col("vb")))
      .withColumn("__ki", graft.functions.GraftFunctions.dot_product(col("ha"), col("hb")))
      .select(col("id_a"), col("id_b"),
        round(col("__ke"), 6).as("k_exact"),
        round(col("__ki"), 6).as("k_icf"),
        round(abs(col("__ke") - col("__ki")), 6).as("abs_err"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB replay: k_exact from the integer-exact sparse expansion
    * (the m15 CTEs — counts make ‖a−b‖² an exact integer), k_icf from
    * the persisted factor (the m4 list-dot form). */
  val oracleSql: String =
    s"""WITH toks AS (
         SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
         FROM documents),
       terms AS (
         SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % ${SparseMlQueries.Dim} AS INTEGER) AS idx,
           count(*) AS cnt
         FROM toks WHERE length(tok) > 0
         GROUP BY doc_id, idx),
       h AS (
         SELECT id, icf_features
         FROM read_parquet('$PlaceholderRoot/m16_icf_h/*.parquet')),
       panel AS (SELECT DISTINCT doc_id FROM terms WHERE doc_id < 20),
       norms AS (
         SELECT doc_id, sum(CAST(cnt AS DOUBLE) * cnt) AS ssq
         FROM terms WHERE doc_id < 20 GROUP BY doc_id),
       dots AS (
         SELECT ta.doc_id AS id_a, tb.doc_id AS id_b,
           sum(CAST(ta.cnt AS DOUBLE) * tb.cnt) AS dot
         FROM terms ta JOIN terms tb
           ON tb.idx = ta.idx AND ta.doc_id < 20 AND tb.doc_id < 20
         GROUP BY ta.doc_id, tb.doc_id),
       g AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           exp(-$Gamma * (na.ssq + nb.ssq - 2 * coalesce(d.dot, 0))) AS ke,
           list_sum(list_transform(list_zip(ha.icf_features, hb.icf_features),
             z -> z[1] * z[2])) AS ki
         FROM panel a
         JOIN panel b ON a.doc_id <= b.doc_id
         JOIN norms na ON na.doc_id = a.doc_id
         JOIN norms nb ON nb.doc_id = b.doc_id
         LEFT JOIN dots d ON d.id_a = a.doc_id AND d.id_b = b.doc_id
         JOIN h ha ON ha.id = a.doc_id
         JOIN h hb ON hb.id = b.doc_id)
       SELECT id_a, id_b, round(ke, 6) AS k_exact, round(ki, 6) AS k_icf,
              round(abs(ke - ki), 6) AS abs_err
       FROM g ORDER BY id_a, id_b"""

  // m16: sparse ICF — K ~ H.Ht certified from the persisted factor
  // (the m4 pattern) with the integer-exact sparse kernel as truth.
  def specs: Seq[QuerySpec] = Seq(QuerySpec("m16_sparse_icf", query, Some(oracleSql)))
}
