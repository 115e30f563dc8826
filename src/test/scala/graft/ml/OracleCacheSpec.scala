package graft.ml

import graft.SparkSpec

/** The oracle-side ICF builders write their factor to parquet and read
  * it back; the loop's cached block RDD must not outlive that write. */
class OracleCacheSpec extends SparkSpec with graft.CacheLeaks {
  import spark.implicits._

  /** A dataset dir holding the two tables the builders read: 60
    * 8-dim float embeddings and 30 short documents. */
  private def fixture(): String = {
    val dir = graft.Scratch.dir("oracle_cache")
    val rng = new scala.util.Random(5)
    (0 until 60).map(i => (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat), i % 2))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    (0 until 30).map(i => (i.toLong, Seq.tabulate(6 + i % 5)(j => words((i * 3 + j * j) % 8)).mkString(" ")))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("the m4/m4b, m4c and m16 ICF builders keep no cached RDD once their factor is written") {
    val dir = fixture()
    try {
      val builders = Seq[(String, () => Long)](
        "m4/m4b icfH" -> (() => ModelOracles.icfH(spark, dir).count()),
        "m4c auto-rank" -> (() => ModelOracles.m4cIcfAutoRank(spark, dir).head().getLong(0)),
        "m16 sparse icfH" -> (() => SparseIcfQuery.icfH(spark, dir).count()))
      val leaks = builders.flatMap { case (name, build) =>
        val (built, left, _) = leftCached(build())
        val rows = built.get
        assert(rows > 0, name)
        if (left.isEmpty) None else Some(s"$name left cached RDDs $left")
      }
      assert(leaks.isEmpty, leaks.mkString("; "))
    } finally {
      graft.Scratch.delete(ModelOracles.modelRoot(dir))
      graft.Scratch.delete(dir)
    }
  }
}
