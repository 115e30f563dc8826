package graft.ml

import graft.SparkSpec

/** The oracle-side ICF builders write their factor to parquet and read
  * it back; the loop's cached block RDD must not outlive that write. */
class OracleCacheSpec extends SparkSpec {
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
    val sc = spark.sparkContext
    try {
      val builders = Seq[(String, () => Long)](
        "m4/m4b icfH" -> (() => ModelOracles.icfH(spark, dir).count()),
        "m4c auto-rank" -> (() => ModelOracles.m4cIcfAutoRank(spark, dir).head().getLong(0)),
        "m16 sparse icfH" -> (() => SparseIcfQuery.icfH(spark, dir).count()))
      val leaks = builders.flatMap { case (name, build) =>
        val before = sc.getPersistentRDDs.keySet
        // `getPersistentRDDs` holds its RDDs weakly, so a leaked RDD that
        // is no longer reachable can drop out of it at any GC; a poller
        // pins every RDD it sees there until the check has run
        val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
        @volatile var building = true
        val poller = new Thread(() =>
          while (building) { sc.getPersistentRDDs.values.foreach(pinned.add); Thread.sleep(1) })
        poller.setDaemon(true)
        poller.start()
        val rows = try build() finally { building = false; poller.join() }
        assert(rows > 0, name)
        val left = sc.getPersistentRDDs.keySet -- before
        java.lang.ref.Reference.reachabilityFence(pinned)
        if (left.isEmpty) None else Some(s"$name left cached RDDs $left")
      }
      assert(leaks.isEmpty, leaks.mkString("; "))
    } finally {
      graft.Scratch.delete(ModelOracles.modelRoot(dir))
      graft.Scratch.delete(dir)
    }
  }
}
