package graft.operators

import graft.SparkSpec
import graft.sim.IvfAnn
import org.apache.spark.sql.functions._

class AnnUpsertSpec extends SparkSpec {
  import spark.implicits._

  /** Clustered fixture: `n` vectors around 4 well-separated centers. */
  private def clustered(n: Int) = {
    val centers = Seq(Seq(0.0, 0.0, 10.0, 0.0), Seq(10.0, 0.0, 0.0, 0.0),
                      Seq(0.0, 10.0, 0.0, 0.0), Seq(0.0, 0.0, 0.0, 10.0))
    (0 until n).map { i =>
      val c = centers(i % 4)
      // deterministic small offset (< 1) so clusters never overlap
      val off = (0 until 4).map(d => ((i * 7 + d * 3) % 10) / 20.0)
      (i.toLong, c.zip(off).map { case (a, b) => a + b })
    }.toDF("vec_id", "v")
  }

  private def postingsSet(path: String): Set[(Long, Seq[Double], Int)] =
    spark.read.parquet(path)
      .select($"vec_id", $"v", $"cell")
      .as[(Long, Seq[Double], Int)].collect().toSet

  private def cellFiles(path: String): Map[String, Seq[(String, Long)]] = {
    val root = new java.io.File(path)
    root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length())).toSeq.sortBy(_._1)
      }.toMap
  }

  test("u18: upsert-then-read equals rebuild-then-read (cells, candidates, top-k) on a clustered corpus") {
    val all = clustered(120).persist()
    val base = all.filter($"vec_id" % 10 =!= 3).withColumn("src", lit("base"))
    val arrivals = all.filter($"vec_id" % 10 === 3).withColumn("src", lit("upsert"))
    val centroids = IvfAnn.fitCentroids(base, "v", nlist = 4, seed = 7L)
    val pathA = graft.Scratch.dir("u18_upsert")
    val pathB = graft.Scratch.dir("u18_rebuild")
    try {
      def routed(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("cell", IvfAnn.cellOf($"v", centroids))
          .select($"vec_id", $"v", $"src", $"cell")
      // A: base write, then the production upsert path
      AnnUpsert.writePostings(routed(base), pathA, dynamic = false)
      AnnUpsert.upsertVectors(spark, pathA, centroids,
        arrivals.select($"vec_id", $"v", $"src"))
      // B: one-shot rebuild of base ∪ arrivals under the SAME centroids
      AnnUpsert.writePostings(routed(base.unionByName(arrivals)), pathB, dynamic = false)
      assert(postingsSet(pathA) == postingsSet(pathB),
        "post-upsert postings must equal a full rebuild row-for-row")
      // and therefore probe top-k is identical — check one probe end-to-end
      val q = arrivals.orderBy($"vec_id").limit(1)
        .select($"vec_id".as("query_id"), $"v".as("qv"))
      def topk(path: String) = spark.read.parquet(path)
        .join(q, expr("true"))
        .withColumn("cos", graft.functions.GraftFunctions.cosine_sim($"qv", $"v"))
        .orderBy($"cos".desc, $"vec_id").limit(5)
        .select($"vec_id").as[Long].collect().toSeq
      assert(topk(pathA) == topk(pathB), "top-k must match the rebuild")
    } finally {
      graft.Scratch.delete(pathA); graft.Scratch.delete(pathB)
      all.unpersist(false)
    }
  }

  test("u18: untouched cell partitions stay byte-identical; touched cells compact to one file") {
    val all = clustered(80).persist()
    // arrivals drawn from ONE cluster only → exactly one touched cell
    val base = all.filter($"vec_id" % 4 =!= 0 || $"vec_id" < 40)
      .withColumn("src", lit("base"))
    val arrivals = all.filter($"vec_id" % 4 === 0 && $"vec_id" >= 40)
      .withColumn("src", lit("upsert"))
    assert(arrivals.count() > 0)
    val centroids = IvfAnn.fitCentroids(base, "v", nlist = 4, seed = 7L)
    val path = graft.Scratch.dir("u18_bytes")
    try {
      AnnUpsert.writePostings(
        base.withColumn("cell", IvfAnn.cellOf($"v", centroids))
          .select($"vec_id", $"v", $"src", $"cell"),
        path, dynamic = false)
      val before = cellFiles(path)
      val beforeBytes = before.map { case (cell, fs) =>
        cell -> fs.map { case (n, _) =>
          java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$path/$cell/$n")).toSeq
        }
      }
      val touched = arrivals
        .withColumn("cell", IvfAnn.cellOf($"v", centroids))
        .select($"cell").distinct().as[Int].collect().toSet
      assert(touched.size == 1, s"fixture expects one touched cell, got $touched")
      AnnUpsert.upsertVectors(spark, path, centroids,
        arrivals.select($"vec_id", $"v", $"src"))
      val after = cellFiles(path)
      before.keys.filterNot(c => touched.contains(c.stripPrefix("cell=").toInt))
        .foreach { cell =>
          assert(after(cell) == before(cell),
            s"untouched $cell changed its file listing")
          after(cell).foreach { case (n, _) =>
            val bytes = java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(s"$path/$cell/$n")).toSeq
            assert(bytes == beforeBytes(cell)(after(cell).indexWhere(_._1 == n)),
              s"untouched $cell/$n not byte-identical")
          }
        }
      touched.foreach { c =>
        assert(after(s"cell=$c").size == 1,
          s"touched cell $c must compact to ONE file, got ${after(s"cell=$c")}")
      }
    } finally { graft.Scratch.delete(path); all.unpersist(false) }
  }
}
