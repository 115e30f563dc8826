package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class KernelFormsSpec extends SparkSpec {
  import spark.implicits._

  private val kernels = Seq(Kernel.Linear, Kernel.Polynomial(0.7, 0.3, 3),
    Kernel.Rbf(0.37), Kernel.Laplacian(0.21))

  test("plain-array kernel forms equal their column forms bit for bit, dense and sparse") {
    // ~2,000 random pairs, a third of the entries zero (so the sparse
    // forms skip terms), lengths 1–12 and sometimes unequal (both forms
    // clamp dense vectors to the shorter one)
    val rng = new scala.util.Random(2024)
    def vec(n: Int) = Array.fill(n)(if (rng.nextInt(3) == 0) 0.0 else rng.nextGaussian() * 2)
    val pairs = (0 until 2000).map { i =>
      val n = 1 + rng.nextInt(12)
      (i.toLong, vec(n), vec(if (rng.nextInt(5) == 0) 1 + rng.nextInt(12) else n))
    }
    def sparse(v: Array[Double]) = {
      val idx = v.indices.filter(v(_) != 0.0).toArray
      (idx, idx.map(v))
    }
    val df = pairs.map { case (id, a, b) =>
      val (ai, av) = sparse(a); val (bi, bv) = sparse(b)
      (id, a, b, ai, av, bi, bv)
    }.toDF("id", "a", "b", "ai", "av", "bi", "bv")
    val cols = kernels.flatMap { k =>
      Seq(k(col("a"), col("b")), k.sparse(col("ai"), col("av"), col("bi"), col("bv")))
    }
    val byId = df.select(col("id") +: cols: _*).collect()
      .map(r => r.getLong(0) -> (1 to cols.size).map(r.getDouble)).toMap
    val mismatches = for {
      (id, a, b) <- pairs
      (ai, av) = sparse(a)
      (bi, bv) = sparse(b)
      (k, ki) <- kernels.zipWithIndex
      (form, plain) <- Seq("dense" -> k(a, b), "sparse" -> k.sparse(ai, av, bi, bv))
      column = byId(id)(2 * ki + (if (form == "dense") 0 else 1))
      if java.lang.Double.doubleToRawLongBits(plain) != java.lang.Double.doubleToRawLongBits(column)
    } yield s"$k $form id $id: plain $plain vs column $column"
    assert(mismatches.size === 0,
      s"of ${pairs.size * kernels.size * 2}; first: " + mismatches.take(5).mkString("; "))
  }

  test("panel form equals the pair form bit for bit, in both argument orders") {
    // one vector of length 1–70 against panels of 1–130 partners (counts
    // off any vector width), drawn from a pool of equal-length partners
    // (no clamp tail) and from one of mixed lengths 1–72 (the panel's
    // width is its shortest partner's; tails run on the partner's side
    // when it is longer than the vector, and the vector's when shorter)
    val rng = new scala.util.Random(11)
    def vec(n: Int) = Array.fill(n)(if (rng.nextInt(5) == 0) 0.0 else rng.nextGaussian() * 1.5)
    def bitsOf(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    val mismatches = for {
      len <- 1 to 70
      a = vec(len)
      (kind, pool) <- Seq("equal" -> Array.fill(130)(vec(len)),
        "mixed" -> Array.fill(130)(vec(if (rng.nextInt(3) == 0) 1 + rng.nextInt(72) else len)))
      n <- 1 to 130
      panel = Kernel.Panel(pool.take(n))
      k <- kernels
      out = Array.fill(n + 1)(Double.NaN)
      _ = k(a, panel, out)
      j <- 0 until n
      // the streamed layout evaluates k(sv, xⱼ) with the SV as `a`; the map
      // layout k(svⱼ, x) with the row as `a`; Nyström k(x, lⱼ) with `a` = x
      (site, pair) <- Seq("a first" -> k(a, pool(j)), "a second" -> k(pool(j), a))
      if bitsOf(out(j)) != bitsOf(pair)
    } yield s"$k len $len $kind n $n j $j ($site): panel ${out(j)} vs pair $pair"
    assert(mismatches.isEmpty, mismatches.take(5).mkString("; "))
  }

  test("panel form: zero-width panels, an empty vector and an empty panel") {
    val rng = new scala.util.Random(12)
    def vec(n: Int) = Array.fill(n)(rng.nextGaussian())
    for (k <- kernels; a <- Seq(Array.emptyDoubleArray, vec(1), vec(9))) {
      // an empty partner makes the panel's width 0: every other pair is
      // all clamp tail
      val rows = Array(vec(9), Array.emptyDoubleArray, vec(3), vec(12))
      val panel = Kernel.Panel(rows)
      assert(panel.width === 0 && panel.n === 4)
      val out = Array.fill(4)(Double.NaN)
      k(a, panel, out)
      assert(out.map(java.lang.Double.doubleToRawLongBits).toSeq ===
        rows.map(r => java.lang.Double.doubleToRawLongBits(k(a, r))).toSeq, s"$k |a| ${a.length}")
      val none = Array(Double.NaN)
      k(a, Kernel.Panel(Array.empty[Array[Double]]), none)
      assert(none(0).isNaN, "an empty panel writes nothing")
    }
  }

  test("the array exp equals StrictMath.exp bit for bit: random inputs, branch edges, specials") {
    def bitsOf(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    def ulps(x: Double, k: Int) = (-k to k).map(d => java.lang.Double.longBitsToDouble(bitsOf(x) + d))
    val ln2 = math.log(2)
    // |x| = 1.5·ln2 rounded to its high word: the general path's bound
    val bound = java.lang.Double.longBitsToDouble(0x3FF0A2B2L << 32)
    val edges = Seq(bound, -bound, 700.0, -700.0, -709.78, -708.39, 709.78, -745.13, -745.14)
      .flatMap(ulps(_, 3)) ++
      (-1010 to -1).flatMap(k => ulps((k + 0.5) * ln2, 3)) ++
      Seq(Double.NaN, java.lang.Double.longBitsToDouble(0x7FF0000000000001L), 0.0, -0.0,
        Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue, -Double.MaxValue)
    val rng = new java.util.SplittableRandom(14)
    // 10.24M random inputs: raw bit patterns, the whole finite range of
    // exp, the general path's range, and kernel finishes −γ·s
    val random = Iterator.range(0, 2500).map { c =>
      Array.tabulate(4096) { _ =>
        c % 4 match {
          case 0 => java.lang.Double.longBitsToDouble(rng.nextLong())
          case 1 => rng.nextDouble(-746.0, 710.0)
          case 2 => rng.nextDouble(-700.0, -1.0)
          case _ => -rng.nextDouble(0.01, 3.0) * rng.nextDouble(0.0, 200.0)
        }
      }
    }
    var checked = 0L
    val bad = (Iterator.single(edges.toArray) ++ random).flatMap { xs =>
      val got = xs.clone()
      Kernel.strictExp(got, got.length)
      checked += xs.length
      xs.indices.iterator.collect {
        case j if bitsOf(got(j)) != bitsOf(StrictMath.exp(xs(j))) =>
          s"exp(${xs(j)}) [${bitsOf(xs(j)).toHexString}]: ${got(j)} vs ${StrictMath.exp(xs(j))}"
      }
    }.take(5).toList
    assert(bad.isEmpty, bad.mkString("; "))
    assert(checked >= 10000000L, s"$checked inputs")
    // n bounds the pass: the entries past it stay as they are
    val part = Array(-3.0, -2.0, 5.0)
    Kernel.strictExp(part, 2)
    assert(part.toSeq === Seq(StrictMath.exp(-3.0), StrictMath.exp(-2.0), 5.0))
  }
}
