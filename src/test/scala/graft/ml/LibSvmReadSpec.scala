package graft.ml

import java.lang.Double.doubleToRawLongBits
import java.nio.file.Files
import scala.util.Try
import graft.SparkSpec
import graft.operators.ScaleOps
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}

/** [[LibSvmIO.read]] against the reader it replaced, Spark's `libsvm`
  * source followed by `vector_to_array`: the same rows, bits, partitions,
  * ids and schema, and the same inputs rejected. */
class LibSvmReadSpec extends SparkSpec with JobCounting {
  import spark.implicits._

  /** The reader [[LibSvmIO.read]] replaced. */
  private def sparkRead(path: String, numFeatures: Int): DataFrame = {
    val base = spark.read.format("libsvm")
    (if (numFeatures > 0) base.option("numFeatures", numFeatures.toString) else base)
      .load(path)
      .select(col("label"), vector_to_array(col("features")).as("features"))
  }

  /** Each row as (id, label bits, feature bits), in partition order. */
  private def rows(df: DataFrame): Seq[(Long, Long, Seq[Long])] =
    df.withColumn("id", monotonically_increasing_id()).collect().toSeq.map { r =>
      (r.getLong(2), doubleToRawLongBits(r.getDouble(0)),
        r.getSeq[Double](1).map(doubleToRawLongBits))
    }

  /** A directory holding one part file per entry of `files`. */
  private def dirOf(files: Seq[String]): String = {
    val dir = java.nio.file.Paths.get(graft.Scratch.dir("libsvm_read"))
    files.zipWithIndex.foreach { case (text, i) =>
      Files.writeString(dir.resolve(f"part-$i%05d.txt"), text)
    }
    dir.toString
  }

  /** Both readers give the same rows, bits, partition count and schema. */
  private def assertSame(path: String, numFeatures: Int = -1): Seq[(Long, Long, Seq[Long])] = {
    val want = sparkRead(path, numFeatures)
    val got = LibSvmIO.read(spark, path, numFeatures)
    assert(got.schema.json === want.schema.json)
    assert(got.rdd.getNumPartitions === want.rdd.getNumPartitions)
    val wantRows = rows(want)
    assert(rows(got) === wantRows)
    wantRows
  }

  private def num(rng: java.util.SplittableRandom): String = rng.nextInt(6) match {
    case 0 => (rng.nextGaussian() * math.pow(10, rng.nextInt(40) - 20)).toString
    case 1 => f"${rng.nextGaussian()}%.6f"
    case 2 => (math.rint(rng.nextGaussian() * 1e6) / 1e6).toString
    case 3 => rng.nextInt(-50, 50).toString
    case 4 => java.lang.Double.longBitsToDouble(rng.nextLong()).toString
    case _ => Seq("0", "-0", "0.0", "-0.0", "1e-320", "-2.5E+3", "NaN", "Infinity")(rng.nextInt(8))
  }

  test("dense and sparse generated rows read bit for bit as Spark's libsvm source") {
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
    assert(assertSame(sparse, numFeatures = 57).forall(_._3.length == 57),
      "an explicit numFeatures above the largest index sizes every vector")
  }

  test("blank, comment and padded lines, label-only rows, -0 values and i:v:w tokens") {
    val padded = dirOf(Seq(Seq(
      "# a comment line", "", "   ", "1 1:0.5 3:-2.25",
      "  -1 2:7   4:1e-3  ", "\t1 1:4\t", "1 2:8\t ", "#2 1:1",
      "-1 1:-0 2:-0.0 3:0 4:5", "1 1:2:3 3:4:", "1  4:1.5").mkString("\n")))
    val got = assertSame(padded)
    assert(got.length === 7)
    assert(got(4)._3.take(3).forall(_ == doubleToRawLongBits(0.0)), "-0 reads as +0.0")
    assert(got(5)._3(0) === doubleToRawLongBits(2.0), "1:2:3 reads as 2")
    // label-only rows: one feature, always zero
    val labelsOnly = assertSame(dirOf(Seq("1\n-1\n\n2.5\n")))
    assert(labelsOnly.map(_._3) === Seq.fill(3)(Seq(doubleToRawLongBits(0.0))))
    assertSame(dirOf(Seq("1\n-1 \n")), numFeatures = 3)
  }

  test("a 3-file input split by maxPartitionBytes: same partitions, ids and schema") {
    val rng = new java.util.SplittableRandom(5)
    val files = Seq(400, 90, 250).map { n =>
      (1 to n).map(i => s"${i % 2 * 2 - 1} ${1 + rng.nextInt(3)}:${num(rng)} 9:${num(rng)}")
        .mkString("", "\n", "\n")
    }
    val path = dirOf(files)
    ScaleOps.withConfs(spark, Seq("spark.sql.files.maxPartitionBytes" -> "4096",
                                  "spark.sql.files.openCostInBytes" -> "1024")) {
      val parts = LibSvmIO.read(spark, path).rdd.getNumPartitions
      assert(parts > 3, s"the split should cut files, got $parts partitions")
      assert(assertSame(path).length === 740)
      assertSame(path, numFeatures = 12)
    }
  }

  test("malformed input fails as it does in Spark's libsvm source") {
    val bad = Seq(
      "a descending index" -> ("1 3:1 2:1\n", -1),
      "a repeated index" -> ("1 2:1 2:1\n", -1),
      "index 0" -> ("1 0:1 2:1\n", -1),
      "an index above numFeatures" -> ("1 1:1 5:1\n", 4),
      "a token `1:`" -> ("1 1: 2:1\n", -1),
      "a last token `2:`" -> ("1 1:1 2:\n", -1),
      "tab-joined tokens" -> ("1 1:1\t2:1\n", -1),
      "a token without a colon" -> ("1 1:1 7\n", -1),
      "a bad label" -> ("x 1:1\n", -1))
    for ((name, (text, numFeatures)) <- bad) {
      val path = dirOf(Seq("1 1:1\n", text))
      assert(Try(sparkRead(path, numFeatures).collect()).isFailure, s"$name: Spark's reader")
      assert(Try(LibSvmIO.read(spark, path, numFeatures).collect()).isFailure, name)
    }
    // no row to size the vectors by: the size pass fails
    for ((name, text) <- Seq("empty input" -> "", "only comments" -> "# 1 1:1\n\n")) {
      val path = dirOf(Seq(text))
      assert(Try(sparkRead(path, -1).collect()).isFailure, s"$name: Spark's reader")
      assert(Try(LibSvmIO.read(spark, path)).isFailure, name)
    }
  }

  test("read submits one job (the size pass) without numFeatures, none with it") {
    val path = dirOf(Seq("1 1:1 3:2\n-1 2:0.5\n"))
    val (sized, jobs) = jobsDuring(LibSvmIO.read(spark, path))
    assert(jobs === 1, s"$jobs jobs")
    val (given, none) = jobsDuring(LibSvmIO.read(spark, path, numFeatures = 3))
    assert(none === 0, s"$none jobs")
    assert(rows(sized) === rows(given))
  }

  test("a caller's numFeatures pads back the trailing zeros write leaves out") {
    val df = Seq((1.0, Array(1.5, 0.0, -2.0, 0.0)), (-1.0, Array(0.0, 3.25, 0.0, 0.0)))
      .toDF("y", "vec")
    val dir = graft.Scratch.dir("libsvm_pad") + "/data"
    LibSvmIO.write(df, "y", "vec", dir)
    assert(LibSvmIO.read(spark, dir).collect().map(_.getSeq[Double](1).length).toSeq === Seq(3, 3))
    assert(LibSvmIO.read(spark, dir, numFeatures = 4).collect()
      .map(r => (r.getDouble(0), r.getSeq[Double](1))).toSeq ===
      Seq((1.0, Seq(1.5, 0.0, -2.0, 0.0)), (-1.0, Seq(0.0, 3.25, 0.0, 0.0))))
  }
}
