package graft.operators

import graft.SparkSpec

class PprSpec extends SparkSpec with graft.CacheLeaks {

  // path graph a—b—c—d—e—f (symmetrized): seeding at `a` must rank the
  // seed's side above the far end, and mass stays 1
  private def pathEdges = {
    import spark.implicits._
    val one = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"))
      .toDF("src", "dst")
    one.union(one.select($"dst".as("src"), $"src".as("dst")))
  }

  private def seed(nodes: String*) = {
    import spark.implicits._
    nodes.toDF("node")
  }

  test("ppr: mass concentrates near the seed and decays with distance") {
    val out = Ppr.personalizedRanks(pathEdges, seed("a")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(out("a") > out("c"))
    assert(out("b") > out("d"))
    assert(out("a") > out("f"))
  }

  test("ppr: total mass stays ~1 (no dangling nodes; quantization loss < 1e-6)") {
    val total = Ppr.personalizedRanks(pathEdges, seed("a", "c")).collect()
      .map(_.getDouble(1)).sum
    assert(math.abs(total - 1.0) < 1e-6)
  }

  test("ppr: mass is exactly zero outside the seed set's 3-hop ball") {
    // 3 iterations from `a` reach at most d (3 hops); e and f stay at 0
    val out = Ppr.personalizedRanks(pathEdges, seed("a")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(out("d") > 0.0)
    assert(out("e") == 0.0 && out("f") == 0.0)
  }

  test("ppr: seeds absent from the graph are ignored; all-absent seeds fail fast") {
    val out = Ppr.personalizedRanks(pathEdges, seed("a", "zz")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    // |S∩V| = 1, so this must equal the seed-at-a run exactly
    val ref = Ppr.personalizedRanks(pathEdges, seed("a")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(out == ref)
    intercept[IllegalArgumentException] {
      Ppr.personalizedRanks(pathEdges, seed("zz"))
    }
  }

  test("ppr: a seed set absent from the graph fails fast and leaves no cache behind") {
    import spark.implicits._
    // a graph of its own: a plan another test left cached would be
    // "already cached" here and hide a leak
    val edges = Seq(("u", "v"), ("v", "u"), ("v", "w"), ("w", "v")).toDF("src", "dst")
    val (out, left, plans) = leftCached(Ppr.personalizedRanks(edges, seed("zz")))
    assert(out.failed.get.isInstanceOf[IllegalArgumentException], out)
    assert(left.isEmpty, s"left cached RDDs $left")
    assert(plans === 0, s"left $plans cached plans")
  }

  test("ppr: quantized sums are bit-identical under any partitioning") {
    import spark.implicits._
    val base = (0 until 48).map(i => (s"n$i", s"n${(i + 1) % 48}")) ++
      (1 until 12).map(i => (s"n${i * 4}", "n0"))
    val df = base.toDF("src", "dst")
    val sym = df.union(df.select($"dst".as("src"), $"src".as("dst")))
    val s = seed("n0", "n7")
    val a = Ppr.personalizedRanks(sym.repartition(1), s).orderBy("node").collect()
    val b = Ppr.personalizedRanks(sym.repartition(7), s).orderBy("node").collect()
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getString(0) == y.getString(0))
      assert(x.getDouble(1) == y.getDouble(1)) // bit equality, not tolerance
    }
  }

  test("ppr: >cutoff shuffle path is bit-identical to the broadcast path") {
    import spark.implicits._
    val base = (0 until 40).map(i => (s"n$i", s"n${(i + 3) % 40}")) ++
      (1 until 10).map(i => (s"n${i * 3}", "n1"))
    val df = base.toDF("src", "dst")
    val sym = df.union(df.select($"dst".as("src"), $"src".as("dst")))
    val s = seed("n1", "n2", "n30")
    val bcast = Ppr.personalizedRanks(sym, s).orderBy("node").collect()
    val shuf  = Ppr.personalizedRanks(sym, s, maxBroadcastNodes = 0).orderBy("node").collect()
    assert(bcast.length == shuf.length && bcast.nonEmpty)
    bcast.zip(shuf).foreach { case (x, y) =>
      assert(x.getString(0) == y.getString(0))
      assert(x.getDouble(1) == y.getDouble(1))
    }
  }
}
