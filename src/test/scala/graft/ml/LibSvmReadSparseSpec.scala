package graft.ml

import java.lang.Double.doubleToRawLongBits
import java.nio.file.Files
import scala.util.Try
import graft.SparkSpec
import org.apache.spark.ml.linalg.SparseVector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

/** [[LibSvmIO.readSparse]] against the `features` sparse vectors of
  * Spark's `libsvm` source: the same rows in the same partitions, labels,
  * 0-based indices and values bit for bit, and the same inputs rejected,
  * on the corpus of [[LibSvmReadSpec]]. */
class LibSvmReadSparseSpec extends SparkSpec {

  private type Rows = Seq[(Long, Seq[Int], Seq[Long])]

  /** Spark's libsvm source, its rows as (label, indices, values) bits. */
  private def sparkRows(path: String): Rows =
    spark.read.format("libsvm").load(path).collect().toSeq.map { r =>
      val v = r.getAs[SparseVector](1)
      (doubleToRawLongBits(r.getDouble(0)), v.indices.toSeq, v.values.toSeq.map(doubleToRawLongBits))
    }

  private def rows(df: DataFrame): Rows =
    df.collect().toSeq.map { r =>
      (doubleToRawLongBits(r.getDouble(0)), r.getSeq[Int](1),
        r.getSeq[Double](2).map(doubleToRawLongBits))
    }

  /** A directory holding one part file per entry of `files`. */
  private def dirOf(files: Seq[String]): String = {
    val dir = java.nio.file.Paths.get(graft.Scratch.dir("libsvm_read_sparse"))
    files.zipWithIndex.foreach { case (text, i) =>
      Files.writeString(dir.resolve(f"part-$i%05d.txt"), text)
    }
    dir.toString
  }

  /** Both readers give the same rows, bits and partition count. */
  private def assertSame(path: String): Rows = {
    val got = LibSvmIO.readSparse(spark, path)
    assert(got.rdd.getNumPartitions ===
      spark.read.format("libsvm").load(path).rdd.getNumPartitions)
    val want = sparkRows(path)
    assert(rows(got) === want)
    want
  }

  private def num(rng: java.util.SplittableRandom): String = rng.nextInt(6) match {
    case 0 => (rng.nextGaussian() * math.pow(10, rng.nextInt(40) - 20)).toString
    case 1 => f"${rng.nextGaussian()}%.6f"
    case 2 => (math.rint(rng.nextGaussian() * 1e6) / 1e6).toString
    case 3 => rng.nextInt(-50, 50).toString
    case 4 => java.lang.Double.longBitsToDouble(rng.nextLong()).toString
    case _ => Seq("0", "-0", "0.0", "-0.0", "1e-320", "-2.5E+3", "NaN", "Infinity")(rng.nextInt(8))
  }

  test("readSparse's schema: a double label, int indices, double values") {
    val df = LibSvmIO.readSparse(spark, dirOf(Seq("1 2:0.5\n")))
    assert(df.columns.toSeq === Seq("label", "indices", "values"))
    assert(df.schema("label").dataType === DoubleType)
    assert(df.schema("indices").dataType === ArrayType(IntegerType, containsNull = false))
    assert(df.schema("values").dataType === ArrayType(DoubleType, containsNull = false))
  }

  test("readSparse equals Spark's libsvm source on generated dense and sparse rows") {
    val rng = new java.util.SplittableRandom(11)
    def line(dim: Int, keep: Double): String = {
      val sb = new StringBuilder(if (rng.nextBoolean()) "1" else "-1")
      (1 to dim).foreach(i => if (rng.nextDouble() < keep) sb.append(s" $i:${num(rng)}"))
      sb.toString
    }
    val dense = dirOf(Seq.fill(2)((1 to 150).map(_ => line(24, 1.0)).mkString("", "\n", "\n")))
    val sparse = dirOf(Seq((1 to 300).map(_ => line(40, 0.2)).mkString("\n")))
    assert(assertSame(dense).length === 300)
    assert(assertSame(sparse).length === 300)
  }

  test("readSparse: blank, comment and padded lines, label-only rows, -0 values and i:v:w tokens") {
    val padded = dirOf(Seq(Seq(
      "# a comment line", "", "   ", "1 1:0.5 3:-2.25",
      "  -1 2:7   4:1e-3  ", "\t1 1:4\t", "1 2:8\t ", "#2 1:1",
      "-1 1:-0 2:-0.0 3:0 4:5", "1 1:2:3 3:4:", "1  4:1.5").mkString("\n")))
    val got = assertSame(padded)
    assert(got.length === 7)
    assert(got(4)._2 === Seq(3), "zeros and -0 are dropped")
    assert(got(5) === ((doubleToRawLongBits(1.0), Seq(0, 2),
      Seq(doubleToRawLongBits(2.0), doubleToRawLongBits(4.0)))), "1:2:3 reads as 2")
    assert(assertSame(dirOf(Seq("1\n-1\n\n2.5\n"))).forall(_._2.isEmpty), "label-only rows")
  }

  test("readSparse rejects the malformed input Spark's libsvm source rejects") {
    val inputs = Seq(
      "a descending index" -> "1 3:1 2:1\n",
      "a repeated index" -> "1 2:1 2:1\n",
      "index 0" -> "1 0:1 2:1\n",
      "a descending index with a zero value" -> "-1 3:1 2:0\n",
      "a token `1:`" -> "1 1: 2:1\n",
      "a last token `2:`" -> "1 1:1 2:\n",
      "tab-joined tokens" -> "1 1:1\t2:1\n",
      "a token without a colon" -> "1 1:1 7\n",
      "a bad label" -> "x 1:1\n",
      "a large index" -> "1 1:1 5:1\n")
    for ((name, text) <- inputs) {
      val path = dirOf(Seq("1 1:1\n", text))
      val want = Try(sparkRows(path))
      val got = Try(rows(LibSvmIO.readSparse(spark, path)))
      assert(got.isFailure === want.isFailure, s"$name: Spark's reader $want, readSparse $got")
      if (want.isSuccess) assert(got.get === want.get, name)
    }
  }
}
