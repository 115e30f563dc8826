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

  test("block forms equal the pair form bit for bit, in each call site's argument order") {
    // one vector against n partners, lengths 1–70 (around the 4-partner
    // passes' multiples of 4), partner counts 1–9 (so the tails after the
    // last full pass of 4 run), and partners of other lengths (the clamp)
    val rng = new scala.util.Random(11)
    def vec(n: Int) = Array.fill(n)(if (rng.nextInt(5) == 0) 0.0 else rng.nextGaussian() * 1.5)
    val mismatches = for {
      len <- 1 to 70
      n <- 1 to 9
      a = vec(len)
      bs = Array.fill(n + 2)(vec(if (rng.nextInt(4) == 0) 1 + rng.nextInt(72) else len))
      from = rng.nextInt(3)
      k <- kernels
      out = Array.fill(n)(Double.NaN)
      _ = k(a, bs, from, n, out)
      j <- 0 until n
      // the streamed layout evaluates k(sv, xⱼ) with the SV as `a`; the map
      // layout k(svⱼ, x) with the row as `a`; Nyström k(x, lⱼ) with `a` = x
      (site, pair) <- Seq("a first" -> k(a, bs(from + j)), "a second" -> k(bs(from + j), a))
      if java.lang.Double.doubleToRawLongBits(out(j)) != java.lang.Double.doubleToRawLongBits(pair)
    } yield s"$k len $len n $n j $j ($site): block ${out(j)} vs pair $pair"
    assert(mismatches.isEmpty, mismatches.take(5).mkString("; "))
  }
}
