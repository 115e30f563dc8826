package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSearchSpec extends SparkSpec {
  import spark.implicits._

  private def clustered(n: Int = 320, dim: Int = 16) = {
    val rng = new scala.util.Random(29)
    val centers = Array.fill(8)(Array.fill(dim)(rng.nextGaussian() * 5.0))
    (0 until n).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.3).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("p67b: graph walk recall >= 0.9 vs exact brute force on the clustered fixture") {
    val df = clustered()
    val g = NnDescent.knnGraph(df, "vec_id", "embedding")
      .select($"src".as("node_id"), $"nbr".as("neighbor_id"))
    val queries = df.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val got = GraphSearch.search(df, g, queries)
    val exact = Knn.bruteForce(df, df.filter($"vec_id" % 10 === 0),
        "vec_id", "embedding", GraphSearch.TopK)
      .select($"query_id", $"neighbor_id")
    val hits = got.select($"query_id", $"neighbor_id")
      .join(exact, Seq("query_id", "neighbor_id"), "leftsemi").count()
    val recall = hits.toDouble / got.count()
    assert(recall >= 0.9, s"clustered-fixture walk recall: $recall")
  }

  test("p67b: walk output invariants — ranked, no self match, descending cosine, deterministic") {
    val df = clustered(n = 160)
    val g = NnDescent.knnGraph(df, "vec_id", "embedding")
      .select($"src".as("node_id"), $"nbr".as("neighbor_id"))
    val queries = df.filter($"vec_id" < 12).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val a = GraphSearch.search(df, g, queries).collect()
    val b = GraphSearch.search(df.repartition(7), g, queries).collect()
    assert(a.sameElements(b), "walk must be partitioning-invariant")
    val byQ = a.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 12)
    for ((q, rows) <- byQ) {
      assert(rows.map(_.getAs[Long]("rank")).sorted.sameElements(1L to rows.length))
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == q), s"self match at $q")
      val cs = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
  }

  test("p67b query: deterministic, gate passes, and the graph artifact persists for the oracle") {
    val a = GraphSearch.query(spark, "/root/testdata/sf0.001").collect()
    val b = GraphSearch.query(spark, "/root/testdata/sf0.001").collect()
    assert(a.sameElements(b))
    assert(a.nonEmpty)
    val gDir = new java.io.File(s"${graft.ml.ModelOracles.modelRoot("/root/testdata/sf0.001")}/p67_graph")
    assert(gDir.isDirectory && gDir.listFiles().exists(_.getName.endsWith(".parquet")),
      "persisted edge list missing — the oracle cannot replay the walk")
  }
}
