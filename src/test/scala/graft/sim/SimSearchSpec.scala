package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimSearchSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("brute-force knn returns k ranked neighbors, no self matches") {
    val res = Knn.query(spark, dir).collect()
    assert(res.length === 50, "5 queries x 10 neighbors")
    val byQuery = res.groupBy(_.getAs[Long]("query_id"))
    for ((q, rows) <- byQuery) {
      assert(rows.map(_.getAs[Long]("rank")).sorted === (1L to 10L).toArray)
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == q), "no self match")
      val coss = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(coss.zip(coss.tail).forall { case (a, b) => a >= b }, "descending")
    }
  }

  test("ivf ann: high recall on clustered data, probes only nprobe cells") {
    // 8 well-separated clusters of 40 vectors: true neighbors share a
    // cluster, so probing the nearest cells must recover nearly all of
    // them — the regime IVF is built for.
    val rng = new scala.util.Random(29)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rng.nextGaussian() * 5.0))
    val pts = (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.3).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 16)
    val exact = Knn.bruteForce(df, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = IvfAnn.annTopK(df, q, "vec_id", "embedding", 10,
        nlist = 8, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    info(f"IVF recall@10 = $recall%.3f on clustered fixture")
    assert(recall >= 0.9, f"clustered data must probe well, recall=$recall%.3f")
    assert(ivf.size <= exact.size)
  }

  test("pq ann: planted identical twins share codes and are always retrieved") {
    // base corpus + an exact duplicate of each query vector: the twin's
    // PQ code coincides with the query's, so its ADC distance is the
    // minimum possible and re-ranking must place it first.
    val rng = new scala.util.Random(31)
    val dim = 16
    val base = (0 until 200).map { i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat))
    }
    val twins = (0 until 5).map(i => (1000L + i, base(i)._2.clone()))
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 5)
    val pq = PqAnn.annTopK(df, q, "vec_id", "embedding", 10, m = 4, kCode = 8)
      .collect()
    for (i <- 0 until 5) {
      val top = pq.filter(_.getAs[Long]("query_id") == i)
        .sortBy(_.getAs[Long]("rank"))
      assert(top.head.getAs[Long]("neighbor_id") == 1000L + i,
        s"query $i must retrieve its identical twin first")
      assert(math.abs(top.head.getAs[Double]("cos_sim") - 1.0) < 1e-6)
    }
  }

  test("ivfpq ann: high recall on clustered data via residual codes") {
    // same clustered regime as the IVF test: cells capture the clusters,
    // and residual-PQ codes must rank within-cell neighbors well enough
    // that the exact re-rank recovers the true top-k
    val rng = new scala.util.Random(29)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rng.nextGaussian() * 5.0))
    val pts = (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.3).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 16)
    val exact = Knn.bruteForce(df, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfpq = IvfPqAnn.annTopK(df, q, "vec_id", "embedding", 10,
        nlist = 8, nprobe = 2, m = 4, kCode = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivfpq).size.toDouble / exact.size
    info(f"IVFADC recall@10 = $recall%.3f on clustered fixture")
    assert(recall >= 0.9, f"residual PQ over cells must probe well, recall=$recall%.3f")
  }

  test("lsh ann achieves reasonable recall vs brute force") {
    val e = graft.Tables.embeddings(spark, dir)
    val q = e.filter($"vec_id" < 20)
    val exact = Knn.bruteForce(e, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = LshAnn.annTopK(e, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"ANN recall@10 = $recall%.3f (candidates are a strict subset of corpus)")
    assert(recall >= 0.3, f"recall $recall%.3f too low — buckets too selective")
    assert(approx.size <= exact.size, "at most k per query")
  }

  test("hyperplane bucket keys compare by content and shape, explain without hashes") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val childRef = BoundReference(0, ArrayType(DoubleType), nullable = true)
    def keys(tables: Seq[Seq[Array[Double]]]) =
      HyperplaneBucketKeys(childRef, HyperplaneTables(tables.map(_.toArray).toArray))
    // separately generated, equal contents (fixed seed)
    def mk() = keys(LshAnn.hyperplanes(2, 3, 4))
    assert(mk() == mk(), "content equality must hold across instances")
    assert(mk().hashCode == mk().hashCode)
    assert(mk().semanticEquals(mk()), "subexpression elimination relies on this")
    assert(mk().toString == mk().toString, "explain rendering must be deterministic")
    assert(!mk().toString.contains("@"), s"identity hash leaked: ${mk().toString}")
    assert(mk().toString.contains("planes[2x3x4]"), mk().toString)
    // the same six planes as 3 tables of 2: other keys, so not equal
    val regrouped = keys(LshAnn.hyperplanes(2, 3, 4).flatten.grouped(2).toSeq)
    assert(mk() != regrouped && mk().hashCode != regrouped.hashCode)
    assert(mk() != keys(LshAnn.hyperplanes(2, 3, 4, seed = 7L)))
  }
}
