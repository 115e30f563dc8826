package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: build a larger scale factor by key-shifted replication of
  * an existing driver-generated SF dir (the driver's generator is not
  * available in this container, and /root/testdata is read-only).
  *
  * Every replica shifts the table's primary/foreign keys by i·OFF so
  * referential integrity holds across the whole scaled corpus.
  * Content columns are PERTURBED per replica so the near-dup structure
  * scales realistically (each replica contributes its own sf0.1-shaped
  * pair subgraph; ~10× pairs at 10× docs): byte-identical replicas
  * would instead put every doc in a 10-clique and grow every pair graph
  * quadratically — a pathological corpus, not a bigger one.
  *   - documents: a position-varying replica-marker token is spliced in
  *     every 8 tokens, pushing cross-replica token-shingle Jaccard below
  *     the 0.8 near-dup threshold, char-3-gram Jaccard below the 0.9
  *     threshold, and flipping ≥4 simhash band chunks, while within-
  *     replica near-dups keep their sf0.1 similarity exactly;
  *   - embeddings: each replica circularly shifts the vector by i
  *     positions — norms and value distributions preserved, cross-
  *     replica cosine decorrelated to the random-pair regime.
  * region/nation stay unscaled (TPC-H dimension semantics).
  *
  * Usage: MakeScaledData <srcDir> <dstDir> <factor>
  */
object MakeScaledData {
  private val OFF = 1000000000L // far above any sf0.1 key

  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args
    val factor = factorS.toInt
    val spark = graft.GraftSession()

    def replicate(df: DataFrame, shifted: Seq[String]): DataFrame =
      (0 until factor).map { i =>
        shifted.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * OFF)))
      }.reduce(_ union _)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      System.err.println(s"[scale] $name done")
    }

    write(spark.read.parquet(s"$src/region.parquet"), "region")
    write(spark.read.parquet(s"$src/nation.parquet"), "nation")
    write(replicate(spark.read.parquet(s"$src/customer.parquet"), Seq("c_custkey")), "customer")
    write(replicate(spark.read.parquet(s"$src/supplier.parquet"), Seq("s_suppkey")), "supplier")
    write(replicate(spark.read.parquet(s"$src/part.parquet"), Seq("p_partkey")), "part")
    write(replicate(spark.read.parquet(s"$src/orders.parquet"),
      Seq("o_orderkey", "o_custkey")), "orders")
    write(replicate(spark.read.parquet(s"$src/lineitem.parquet"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    // events: keep ts as raw int64 nanos on disk — Tables.events applies
    // the same nanos→micros conversion whether the column is annotated
    // TIMESTAMP(NANOS) or a plain long
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    write(replicate(spark.read.parquet(s"$src/events.parquet"),
      Seq("event_id", "user_id")), "events")

    // POSITION-VARYING marker token (not one repeated marker): a single
    // repeated 'zrep$i' adds only ~5 distinct char-trigrams per replica,
    // so cross-replica char-3-gram Jaccard stayed ≈ 0.99 and the p4 pair
    // graph grew QUADRATICALLY in the factor (~25M true pairs at 100×) —
    // a generator artifact, not corpus realism. Varying the marker by
    // splice position adds ~6 distinct grams × ~16 splices per replica,
    // pushing cross-replica char-gram J to ≈ 0.8 (< the 0.9 threshold)
    // while leaving within-replica pairs untouched (both members of a
    // pair get the SAME insertions at the same positions). Token-level
    // and simhash divergence are at least as strong as with the fixed
    // marker (every splice still corrupts the same shingle windows).
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docReplicas = (0 until factor).map { i =>
      val d = docs.withColumn("doc_id", col("doc_id") + lit(i * OFF))
      if (i == 0) d
      else d.withColumn("text", expr(
        s"""array_join(
              flatten(transform(split(text, '\\\\s+'),
                (t, j) -> CASE WHEN j % 8 = 7
                               THEN array(t, concat('w$i', 'q', j,
                                          'x', (j * 3 + $i * 7) % 97))
                               ELSE array(t) END)),
              ' ')"""))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    write(docReplicas.reduce(_ union _), "documents")

    // Per-replica transform must be (a) norm-preserving, (b) uniform
    // within the replica (so within-replica near-dup structure is kept
    // exactly), (c) UNIQUE per replica (two replicas sharing a transform
    // would be byte-identical to each other — every doc gains an exact
    // twin and the pair graph grows pathologically). A circular shift
    // alone repeats at i ≥ dim; compose it with an alternating sign
    // flip keyed by i/dim — unique for factor ≤ 2·dim (= 128 at dim 64).
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val dim = emb.selectExpr("size(embedding) d").head().getInt(0)
    require(factor <= 2 * dim,
      s"factor $factor exceeds the ${2 * dim} distinct per-replica transforms at dim $dim")
    val embReplicas = (0 until factor).map { i =>
      val e = emb.withColumn("vec_id", col("vec_id") + lit(i * OFF))
      val s = i % dim
      val shifted = if (s == 0) e
      else e.withColumn("embedding", expr(
        s"concat(slice(embedding, ${s + 1}, size(embedding) - $s), slice(embedding, 1, $s))"))
      if (i < dim) shifted
      else shifted.withColumn("embedding", expr(
        "transform(embedding, (x, j) -> IF(j % 2 = 0, -x, x))"))
    }
    write(embReplicas.reduce(_ union _), "embeddings")
    spark.stop()
  }
}
