package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OptimisticCommitSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: (Long, Double, String)*) =
    rows.toDF("k", "price", "bkt")

  test("u21: lost CAS with disjoint partitions rebases; overlap aborts loudly without burning a version") {
    val root = graft.Scratch.dir("occ_spec")
    try {
      // base at v1 across two partitions
      val v1 = OptimisticCommit.commit(
        df((1L, 1.0, "p0"), (2L, 2.0, "p1")), root, "bkt", 0)
      assert(v1 == 1)
      // writer A and writer B both read v1; A lands first on p0
      val va = OptimisticCommit.commit(df((1L, 10.0, "p0")), root, "bkt", 1)
      assert(va == 2)
      // B touches p1 only: its CAS on v2 is lost, interleaved commit
      // touched {p0} — disjoint — so B rebases and commits v3
      val vb = OptimisticCommit.commit(df((2L, 20.0, "p1")), root, "bkt", 1)
      assert(vb == 3, s"disjoint writer must rebase to v3, got v$vb")
      // writer C also read v1 but touches p0 — overlaps A's commit
      val e = intercept[IllegalStateException](
        OptimisticCommit.commit(df((1L, 99.0, "p0")), root, "bkt", 1))
      assert(e.getMessage.contains("p0"), e.getMessage)
      // resolved state: per partition the highest committed version
      val got = OptimisticCommit.read(spark, root, "bkt")
        .select($"k", $"price").as[(Long, Double)].collect().toSet
      assert(got == Set((1L, 10.0), (2L, 20.0)), s"got $got")
      // C aborted BEFORE claiming: no version burned, log still at v3
      assert(OptimisticCommit.currentVersion(root) == 3)
      // and a post-abort writer on p0 (reading the CURRENT snapshot)
      // commits v4 cleanly — the conflict left no debris
      val vd = OptimisticCommit.commit(df((1L, 11.0, "p0")), root, "bkt", 3)
      assert(vd == 4)
    } finally graft.Scratch.delete(root)
  }

  test("u21: a writer that crashes before its claim is invisible and burns nothing") {
    val root = graft.Scratch.dir("occ_spec3")
    try {
      OptimisticCommit.commit(df((1L, 1.0, "p0")), root, "bkt", 0)
      // simulate a crash mid-commit: data staged, claim never created
      df((1L, 99.0, "p0")).write.partitionBy("bkt").mode("overwrite")
        .parquet(s"$root/data/${java.util.UUID.randomUUID()}")
      assert(OptimisticCommit.currentVersion(root) == 1)
      val got = OptimisticCommit.read(spark, root, "bkt")
        .select($"price").as[Double].collect().toSeq
      assert(got == Seq(1.0))
      // the next writer takes v2 — the crashed writer consumed nothing
      val v = OptimisticCommit.commit(df((1L, 5.0, "p0")), root, "bkt", 1)
      assert(v == 2, s"crashed writer must not consume a version, got v$v")
    } finally graft.Scratch.delete(root)
  }

  test("u21: vacuum sweeps crashed writers' staged dirs and claim temp files, spares live state and in-grace writers") {
    val root = graft.Scratch.dir("occ_vac")
    try {
      OptimisticCommit.commit(df((1L, 1.0, "p0")), root, "bkt", 0)
      OptimisticCommit.commit(df((2L, 2.0, "p1")), root, "bkt", 1)
      // crash class (a): staged data, no claim
      df((1L, 99.0, "p0")).write.partitionBy("bkt").mode("overwrite")
        .parquet(s"$root/data/${java.util.UUID.randomUUID()}")
      // crash class (b): claim temp file left in the CAS window
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "_commits", ".v9-dead.tmp"),
        "half-written".getBytes("UTF-8"))
      val before = OptimisticCommit.read(spark, root, "bkt")
        .select($"k", $"price").as[(Long, Double)].collect().toSet
      // a huge grace window spares everything (the in-flight-writer case)
      assert(OptimisticCommit.vacuum(root, olderThanMs = 3600_000L) == ((0, 0)))
      val (dirs, tmps) = OptimisticCommit.vacuum(root)
      assert(dirs == 1 && tmps == 1, s"swept ($dirs, $tmps), expected (1, 1)")
      val after = OptimisticCommit.read(spark, root, "bkt")
        .select($"k", $"price").as[(Long, Double)].collect().toSet
      assert(after == before, "vacuum must not change the resolved table")
      // idempotent: nothing left to sweep, committed data dirs survive
      assert(OptimisticCommit.vacuum(root) == ((0, 0)))
      assert(OptimisticCommit.currentVersion(root) == 2)
    } finally graft.Scratch.delete(root)
  }

  test("u21: the claim manifest is atomic with the claim — touched partitions are visible the instant the version exists") {
    val root = graft.Scratch.dir("occ_spec4")
    try {
      OptimisticCommit.commit(df((1L, 1.0, "p0"), (2L, 2.0, "p1")), root, "bkt", 0)
      OptimisticCommit.commit(df((1L, 10.0, "p0")), root, "bkt", 1)
      // the moment v2 exists, its manifest must carry {p0} — the
      // ADVICE race was a committed version readable with an EMPTY
      // touched-set (meta landing after the claim)
      assert(OptimisticCommit.currentVersion(root) == 2)
      assert(OptimisticCommit.touchedOf(root, 2) == Set("p0"))
    } finally graft.Scratch.delete(root)
  }

  test("u21: an unreadable claim manifest is a conflict for writers and a loud failure for readers, never an empty touched-set") {
    val root = graft.Scratch.dir("occ_spec5")
    try {
      OptimisticCommit.commit(df((1L, 1.0, "p0")), root, "bkt", 0)
      // a legacy/corrupt claim at v2: exists, but no manifest header
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/_commits/v2.claim"),
        "not-a-manifest".getBytes("UTF-8"))
      // writer that read v1 and would pass a disjointness check against
      // an EMPTY set must abort instead
      val e = intercept[IllegalStateException](
        OptimisticCommit.commit(df((2L, 2.0, "p1")), root, "bkt", 1))
      assert(e.getMessage.contains("unreadable"), e.getMessage)
      // readers refuse to resolve the log rather than skip the claim
      val r = intercept[IllegalStateException](
        OptimisticCommit.read(spark, root, "bkt").collect())
      assert(r.getMessage.contains("unreadable"), r.getMessage)
    } finally graft.Scratch.delete(root)
  }

  test("u21: concurrent racing writers on disjoint partitions all commit, distinct versions, no lost update") {
    val root = graft.Scratch.dir("occ_spec6")
    try {
      val parts = (0 until 6).map(i => s"p$i")
      OptimisticCommit.commit(
        parts.zipWithIndex.map { case (p, i) => (i.toLong, 1.0, p) }.toDF("k", "price", "bkt"),
        root, "bkt", 0)
      // 6 writers, one partition each, ALL reading snapshot v1, racing:
      // every CAS interleaving is a disjoint rebase — all must succeed
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futs = parts.zipWithIndex.map { case (p, i) =>
        scala.concurrent.Future {
          OptimisticCommit.commit(
            Seq((i.toLong, 100.0 + i, p)).toDF("k", "price", "bkt"),
            root, "bkt", readVersion = 1, maxRetries = 20)
        }
      }
      val versions = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration(120, "s"))
      pool.shutdown()
      assert(versions.toSet.size == 6, s"duplicate versions: $versions")
      assert(versions.toSet == (2 to 7).toSet, s"non-dense versions: $versions")
      val got = OptimisticCommit.read(spark, root, "bkt")
        .select($"bkt", $"price").as[(String, Double)].collect().toMap
      val want = parts.zipWithIndex.map { case (p, i) => p -> (100.0 + i) }.toMap
      assert(got == want, s"lost update: $got vs $want")
    } finally graft.Scratch.delete(root)
  }

  test("u21 query: the deterministic two-writer interleaving resolves buckets to their owners") {
    val out = OptimisticCommit.u21OccQuery(spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 8, s"expected all 8 md5 buckets, got ${out.length}")
    val orders = graft.Tables.orders(spark, "/root/testdata/sf0.001")
      .select($"o_orderkey", $"o_totalprice").as[(Long, Double)].collect()
    def bkt(k: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8")).take(4)
      (java.lang.Long.parseLong(md.map(b => f"$b%02x").mkString, 16) % 8).toString
    }
    val want = orders.groupBy(o => bkt(o._1)).map { case (b, os) =>
      val bump = if (b == "0" || b == "1") 100.0 else if (b == "2" || b == "3") 200.0 else 0.0
      b -> BigDecimal(os.map(_._2 + bump).sum).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    }
    out.foreach { r =>
      val b = r.getAs[String]("bkt")
      assert(BigDecimal(r.getAs[Double]("sum_price")) == want(b),
        s"bucket $b: ${r.getAs[Double]("sum_price")} want ${want(b)}")
    }
  }
}
