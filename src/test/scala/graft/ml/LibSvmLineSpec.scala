package graft.ml

import java.lang.Double.doubleToRawLongBits
import scala.util.Try
import org.scalatest.funsuite.AnyFunSuite

class LibSvmLineSpec extends AnyFunSuite {

  /** The scanner's value of `t`, or its exception. */
  private def scanned(t: String): Try[Double] = Try(LibSvmLine.double(t, 0, t.length))

  /** `t`'s mismatch against `String.toDouble`, if any: the same bits, or
    * both rejecting it. */
  private def mismatch(t: String): Option[String] = (Try(t.toDouble), scanned(t)) match {
    case (scala.util.Success(want), scala.util.Success(got))
        if doubleToRawLongBits(want) == doubleToRawLongBits(got) => None
    case (scala.util.Failure(_), scala.util.Failure(_: NumberFormatException)) => None
    case (want, got) => Some(s"'$t': toDouble $want, scanner $got")
  }

  test("doubles parse bit for bit as String.toDouble: random bits, random magnitudes, 6-dp values") {
    val rng = new java.util.SplittableRandom(42)
    val tokens = Iterator.fill(1000000)(java.lang.Double.longBitsToDouble(rng.nextLong()).toString) ++
      Iterator.fill(300000)((rng.nextDouble() * 2 - 1) * math.pow(10, rng.nextInt(-30, 30)))
        .map(_.toString) ++
      // the values saveText and psvm write: rounded to 6 decimals
      Iterator.fill(700000)(math.rint(rng.nextGaussian() * 3e6) / 1e6).map(_.toString) ++
      Iterator.fill(100000)(f"${rng.nextGaussian() * 1000}%.6f")
    val bad = tokens.flatMap(mismatch).take(5).toList
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("edge tokens parse as String.toDouble, and malformed ones still throw") {
    val edges = Seq("-0.0", "0", "+1", "1E-5", "1.0E22", "1e23", "4.9E-324", "-4.9E-324",
      "1.7976931348623157E308", "2.2250738585072014E-308", "0.1", "-.5", "5.", "+.5",
      "123456789012345", "1234567890123456", "12345678901234567", "0.12345678901234567",
      "9007199254740993", "0.000000000000000000000001", "1e-22", "1e22", "123e-24",
      "NaN", "Infinity", "-Infinity", "1.5d", "0x1p3", " 2.5", "2.5\r", "00000000000000000001.5",
      "1e0000000000000000022", "0e9999")
    val bad = edges.flatMap(mismatch)
    assert(bad.isEmpty, bad.mkString("; "))
    assert(doubleToRawLongBits(scanned("-0.0").get) === doubleToRawLongBits(-0.0))
    for (t <- Seq("", "-", "+", ".", "e5", "1e", "1e+", "1.2.3", "1:2", "abc", "1,5", "--1", "1 2")) {
      assert(Try(t.toDouble).isFailure, t)
      assert(scanned(t).failed.toOption.exists(_.isInstanceOf[NumberFormatException]),
        s"'$t' must throw, got ${scanned(t)}")
    }
  }

  test("SV lines: entries at their declared index, sized by dim or the line's max index") {
    def seq(r: (Array[Double], Double)) = (r._1.toSeq, r._2)
    assert(seq(LibSvmLine.sv("0.5 1:1.0 2:-2.5 3:3", 3)) === (Seq(1.0, -2.5, 3.0), 0.5))
    assert(seq(LibSvmLine.sv("1.0 2:3.0 4:5.0", 4)) === (Seq(0.0, 3.0, 0.0, 5.0), 1.0))
    assert(seq(LibSvmLine.sv("1.0 4:5.0 2:3.0 ", -1)) === (Seq(0.0, 3.0, 0.0, 5.0), 1.0))
    assert(seq(LibSvmLine.sv("-2 40:1", 0)) === (Seq.fill(39)(0.0) :+ 1.0, -2.0))
    assert(seq(LibSvmLine.sv("7", -1)) === (Seq.empty, 7.0))
    assert(seq(LibSvmLine.sv("7", 2)) === (Seq(0.0, 0.0), 7.0))
    assert(seq(LibSvmLine.sv("1 2:1 2:9", 2)) === (Seq(0.0, 9.0), 1.0), "a later entry wins")

    def message(line: String, dim: Int) =
      Try(LibSvmLine.sv(line, dim)).failed.map(_.getMessage).getOrElse("")
    assert(message("-2.0 5:1.0", 4).contains("SV feature index 5 outside [1, 4] (header dim 4)"))
    assert(message("-2.0 0:1.0", 4).contains("SV feature index 0 outside [1, 4]"))
    assert(message("1 3:1 0:2 7:1", -1).contains("SV feature index 0 outside [1, 7] (header dim -1)"))

    // malformed lines throw, as `split`/`toDouble`/`toInt` did
    for (line <- Seq("", " 1.0 2:3", "x 1:2", "1.0 2", "1.0 :3", "1.0 2:", "1.0 2:x",
                     "1.0  2:3", "1.0 a:3", "1.0 2:3:4", "1.0 99999999999:1")) {
      assert(Try(LibSvmLine.sv(line, 4)).isFailure, s"'$line' must throw")
      assert(Try(LibSvmLine.sv(line, -1)).isFailure, s"'$line' (no dim) must throw")
    }
  }

  test("SV lines match the split/substring/toDouble parse on saveText-style lines") {
    val rng = new java.util.SplittableRandom(3)
    def reference(line: String, dim: Int): (Seq[Double], Double) = {
      val parts = line.split(' ')
      val x = new Array[Double](dim)
      parts.drop(1).foreach { t =>
        val c = t.indexOf(':')
        x(t.substring(0, c).toInt - 1) = t.substring(c + 1).toDouble
      }
      (x.toSeq, parts(0).toDouble)
    }
    for (_ <- 0 until 2000) {
      val dim = 1 + rng.nextInt(70)
      val sb = new StringBuilder((rng.nextGaussian() * rng.nextDouble()).toString)
      (1 to dim).foreach { i =>
        val v = if (rng.nextInt(3) == 0) rng.nextGaussian() else math.rint(rng.nextGaussian() * 1e6) / 1e6
        sb.append(' ').append(i).append(':').append(v)
      }
      val line = sb.toString
      val (x, coef) = LibSvmLine.sv(line, dim)
      val (wantX, wantCoef) = reference(line, dim)
      assert(doubleToRawLongBits(coef) === doubleToRawLongBits(wantCoef), line)
      assert(x.map(doubleToRawLongBits).toSeq === wantX.map(doubleToRawLongBits), line)
    }
  }
}
