package graft.ml

import java.lang.Double.doubleToRawLongBits
import java.nio.charset.StandardCharsets.UTF_8
import scala.util.{Failure, Success, Try}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** [[LibSvmLine]], the one LIBSVM line scanner, against independent
  * references: `String.toDouble` for the token parser, and for whole
  * lines "the String form", this spec's own parse of the line as a
  * `String` by `split`, `substring`, `toDouble` and `toInt` — psvm's SV
  * grammar ([[reference]]) and Spark's libsvm source grammar
  * ([[dataReference]]). */
class LibSvmLineSpec extends AnyFunSuite {

  /** One scanner for the whole spec: its buffers are reused from line to
    * line, as in a task. */
  private val scanner = new LibSvmLine

  private def sv(line: String, dim: Int): (Array[Double], Double) =
    scanner.sv(UTF8String.fromString(line), dim)

  /** psvm's SV line grammar as a `String` parse: tokens split on single
    * spaces (trailing ones dropped), the coefficient then `idx:val`
    * entries (value to the token's end), each value placed at its index
    * (a later entry wins), sized by `dim` or by the largest index. */
  private def reference(line: String, dim: Int): (Array[Double], Double) = {
    val parts = line.split(' ')
    val coef = parts(0).toDouble
    val entries = parts.drop(1).map { t =>
      val c = t.indexOf(':')
      if (c < 0) throw new NumberFormatException(s"malformed entry '$t'")
      (t.substring(0, c).toInt, t.substring(c + 1).toDouble)
    }
    val size = if (dim > 0) dim else entries.map(_._1).foldLeft(0)(math.max)
    for ((i, _) <- entries)
      require(i >= 1 && i <= size, s"SV feature index $i outside [1, $size] (header dim $dim)")
    val x = new Array[Double](size)
    for ((i, v) <- entries) x(i - 1) = v
    (x, coef)
  }

  /** Spark's libsvm source on one line as a `String` parse
    * (`MLUtils.parseLibSVMRecord` on the trimmed line, and the sparse
    * vector it makes): None for a blank or `#` line, else the label, the
    * non-zero entries and the last index, as bits; it throws where that
    * parse throws. */
  private def dataReference(line: String): Option[(Long, Seq[(Int, Long)], Int)] = {
    val t = line.trim
    if (t.isEmpty || t.startsWith("#")) None
    else {
      val items = t.split(' ')
      val label = items.head.toDouble
      val entries = items.tail.filter(_.nonEmpty).toSeq.map { item =>
        val iv = item.split(':')
        (iv(0).toInt, iv(1).toDouble)
      }
      entries.foldLeft(0) { case (prev, (i, _)) => require(i > prev, "indices must ascend"); i }
      Some((doubleToRawLongBits(label),
        entries.collect { case (i, v) if v != 0.0 => (i, doubleToRawLongBits(v)) },
        entries.lastOption.fold(0)(_._1)))
    }
  }

  /** The scanner's [[LibSvmLine.row]] of `line`, in [[dataReference]]'s terms. */
  private def dataRow(line: UTF8String): Option[(Long, Seq[(Int, Long)], Int)] =
    if (!scanner.row(line, Int.MaxValue)) None
    else Some((doubleToRawLongBits(scanner.label),
      (0 until scanner.n).map(k => (scanner.idx(k), doubleToRawLongBits(scanner.vals(k)))),
      scanner.lastIndex))

  /** A value, or that it was rejected. */
  private def outcome[T](r: Try[T]): Either[String, T] = r match {
    case Success(v) => Right(v)
    case Failure(_) => Left("rejected")
  }

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
    assert(seq(sv("0.5 1:1.0 2:-2.5 3:3", 3)) === (Seq(1.0, -2.5, 3.0), 0.5))
    assert(seq(sv("1.0 2:3.0 4:5.0", 4)) === (Seq(0.0, 3.0, 0.0, 5.0), 1.0))
    assert(seq(sv("1.0 4:5.0 2:3.0 ", -1)) === (Seq(0.0, 3.0, 0.0, 5.0), 1.0))
    assert(seq(sv("-2 40:1", 0)) === (Seq.fill(39)(0.0) :+ 1.0, -2.0))
    assert(seq(sv("7", -1)) === (Seq.empty, 7.0))
    assert(seq(sv("7", 2)) === (Seq(0.0, 0.0), 7.0))
    assert(seq(sv("1 2:1 2:9", 2)) === (Seq(0.0, 9.0), 1.0), "a later entry wins")

    def message(line: String, dim: Int) =
      Try(sv(line, dim)).failed.map(_.getMessage).getOrElse("")
    assert(message("-2.0 5:1.0", 4).contains("SV feature index 5 outside [1, 4] (header dim 4)"))
    assert(message("-2.0 0:1.0", 4).contains("SV feature index 0 outside [1, 4]"))
    assert(message("1 3:1 0:2 7:1", -1).contains("SV feature index 0 outside [1, 7] (header dim -1)"))

    // malformed lines throw, as `split`/`toDouble`/`toInt` do
    for (line <- Seq("", " 1.0 2:3", "x 1:2", "1.0 2", "1.0 :3", "1.0 2:", "1.0 2:x",
                     "1.0  2:3", "1.0 a:3", "1.0 2:3:4", "1.0 99999999999:1")) {
      for (dim <- Seq(4, -1)) {
        assert(Try(reference(line, dim)).isFailure, s"'$line' dim $dim: the reference")
        assert(Try(sv(line, dim)).isFailure, s"'$line' dim $dim must throw")
      }
    }
  }

  test("SV lines match the split/substring/toDouble parse on saveText-style lines") {
    val rng = new java.util.SplittableRandom(3)
    for (_ <- 0 until 2000) {
      val dim = 1 + rng.nextInt(70)
      val sb = new StringBuilder((rng.nextGaussian() * rng.nextDouble()).toString)
      (1 to dim).foreach { i =>
        val v = if (rng.nextInt(3) == 0) rng.nextGaussian() else math.rint(rng.nextGaussian() * 1e6) / 1e6
        sb.append(' ').append(i).append(':').append(v)
      }
      val line = sb.toString
      val (x, coef) = sv(line, dim)
      val (wantX, wantCoef) = reference(line, dim)
      assert(doubleToRawLongBits(coef) === doubleToRawLongBits(wantCoef), line)
      assert(x.map(doubleToRawLongBits).toSeq === wantX.map(doubleToRawLongBits), line)
    }
  }

  /** An SV line's parse as comparable bits, the message of an index
    * outside the vector, or that it was rejected. */
  private def parsed(r: => (Array[Double], Double)): Either[String, (Seq[Long], Long)] =
    Try(r) match {
      case Success((x, coef)) => Right((x.map(doubleToRawLongBits).toSeq, doubleToRawLongBits(coef)))
      case Failure(e) if e.getMessage != null && e.getMessage.contains("SV feature index") =>
        Left(e.getMessage)
      case Failure(_) => Left("rejected")
    }

  /** The byte scan's mismatch against the String form ([[reference]]) on
    * `line`, if any: read from a buffer with bytes before and `after`
    * digits after it, as a text row's are (so an 8-byte load past the
    * line sees digits, or has to stop at the array's end). */
  private def byteMismatch(line: String, dim: Int, after: Int = 7): Option[String] = {
    val b = line.getBytes(UTF_8)
    val buf = Array.fill[Byte](3 + b.length + after)('9'.toByte)
    System.arraycopy(b, 0, buf, 3, b.length)
    val want = parsed(reference(line, dim))
    val got = parsed(scanner.sv(UTF8String.fromBytes(buf, 3, b.length), dim))
    if (got == want) None else Some(s"'$line' dim $dim after $after: String $want, bytes $got")
  }

  test("SV byte scan equals the String form on random tokens, as coefficients and values") {
    val rng = new java.util.SplittableRandom(42)
    // the tokens of the random-token spec above, 2.1M of them
    val tokens = Iterator.fill(1000000)(java.lang.Double.longBitsToDouble(rng.nextLong()).toString) ++
      Iterator.fill(300000)((rng.nextDouble() * 2 - 1) * math.pow(10, rng.nextInt(-30, 30)))
        .map(_.toString) ++
      Iterator.fill(700000)(math.rint(rng.nextGaussian() * 3e6) / 1e6).map(_.toString) ++
      Iterator.fill(100000)(f"${rng.nextGaussian() * 1000}%.6f")
    val bad = tokens.grouped(16).flatMap { g =>
      val line = g.zipWithIndex.map { case (t, i) => s"${i + 1}:$t" }.mkString(g.head + " ", " ", "")
      byteMismatch(line, 16).orElse(byteMismatch(line, -1))
    }.take(5).toList
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("SV byte scan equals the String form on edge tokens, odd indices and malformed lines") {
    val values = Seq("-0.0", "0", "+1", "1E-5", "1.0E22", "1e23", "4.9E-324", "-1.5e-3",
      "1.7976931348623157E308", "123456789012345", "1234567890123456", "0.12345678901234567",
      "9007199254740993", "0.000000000000000000000001", "123e-24", "NaN", "-Infinity",
      "1.5d", "0x1p3", "5.", "-.5", "1e", "1e+", "--1", "1.2.3", "", "x", "3:4")
    val lines = values.flatMap(v => Seq(s"$v 1:2.5", s"0.5 1:$v 3:1", s"0.5 2:1 3:$v")) ++ Seq(
      // indices: 10+ digits (one that fits an Int, one that does not), signs,
      // zero, past dim, repeated
      "1 0000000002:1.5", "1 0000000000002:1.5", "1 99999999999:1", "1 +2:1", "1 -2:1",
      "1 0:1", "1 5:1", "1 2:1 2:9", "1 3:1 1:2 3:7",
      // spacing: trailing, doubled, leading; tokens without a colon or a value
      "1 1:2 ", "1 1:2   ", "1  1:2", " 1 1:2", "1 1:2  2:3", "1 ", "1", "", " ",
      "1 2", "1 :3", "1 2:", "1 a:3", "1 2:3:4", "1 1:2\t2:3", "1 1:2\r",
      // multi-byte UTF-8: a fullwidth digit, an Arabic-Indic index digit
      // (Integer.parseInt reads it), a non-breaking space, an accent
      "1 1:\uff12", "1 \u0663:1.5", "1 1:2\u00a02:3", "0.5 1:1.0 2:-2.5 3:caf\u00e9",
      "\u00e9 1:1")
    val bad = for {
      line <- lines
      dim <- Seq(4, -1)
      m <- byteMismatch(line, dim)
    } yield m
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("SV byte scan at the array's end, off the heap, and on long, signed and E-notation values") {
    val values = Seq("0.1234567", "-0.12345678", "0.123456789", "12345.123456789", "-1.2345678901234",
      "123456789012345", "1234567890123456", "12345678.9012345", "1234567.89012345", "0.000000000012345",
      "+0.5", "+12", "-007.25", "000.0001", "00000000000000001", "1.0E-5", "-2.5e+3", "1e5", "5E-324",
      "7.", ".25", "-.5", "1.2.3", "1..2", "--1", "+-1", "1-2", "-", "+", ".", "1e", "NaN")
    val lines = values.flatMap(v => Seq(s"$v 1:2.5", s"0.5 1:$v", s"0.5 1:$v 2:$v", s"0.5 63:$v")) ++
      Seq("1 1234567:1", "1 12345678:1", "1 1:2 ", "-1 7:0", "0 1:1 2:2 3:3 4:4 5:5 6:6 7:7 8:8")
    // without a dim, index 12345678 would size a 98 MB vector: that line
    // runs with dim 70 only, where both forms reject the index
    val bad = for {
      line <- lines
      dim <- Seq(70, -1)
      if dim > 0 || !line.contains("12345678:")
      after <- 0 to 8
      m <- byteMismatch(line, dim, after)
    } yield m
    assert(bad.isEmpty, bad.take(5).mkString("; "))
    // a line outside the heap is copied into an array of its own length
    for (line <- lines) {
      val b = line.getBytes(UTF_8)
      val addr = Platform.allocateMemory(math.max(1, b.length))
      try {
        Platform.copyMemory(b, Platform.BYTE_ARRAY_OFFSET, null, addr, b.length)
        val offHeap = UTF8String.fromAddress(null, addr, b.length)
        assert(parsed(scanner.sv(offHeap, 70)) === parsed(reference(line, 70)), line)
      } finally Platform.freeMemory(addr)
    }
  }

  test("lastIndex off a raw line's bytes equals the trimmed String form, values and exceptions") {
    // the edge lines of the reader's specs, and odd last tokens
    val lines = Seq("# a comment line", "", "   ", "1 1:0.5 3:-2.25", "  -1 2:7   4:1e-3  ",
      "\t1 1:4\t", "1 2:8\t ", "#2 1:1", " #2 1:1", "-1 1:-0 2:-0.0 3:0 4:5", "1 1:2:3 3:4:",
      "1  4:1.5", "1", "-1 ", "2.5", "1 3:1 2:1", "1 2:1 2:1", "1 0:1 2:1", "1 1:1 5:1",
      "1 1: 2:1", "1 1:1 2:", "1 1:1\t2:1", "1 1:1 7", "x 1:1", "1 0000000002:1.5",
      "1 000000002:1.5", "1 123456789:1", "1 1234567890:1", "1 99999999999:1", "1 +5:1", "1 -5:1",
      "1 \u0663:1.5", "1 1:1 caf\u00e9:2", "\u00e9 1:1", "1 1:\u00e9", "1 :1", "1 a:1",
      "1 1:1\r", "\r", "\u00a0", "1\u00a02:1", "1 2:1 #3:1", "1 1::3", "1 1:2::", "1 2:5:x 4:0",
      "\u00a01 1:1", "1 1:1 \u00a0", "\u0000 1 2:3 \u001f")
    val bad = for {
      line <- lines
      after <- Seq(0, 5)
      b = line.getBytes(UTF_8)
      buf = Array.fill[Byte](2 + b.length + after)(' '.toByte)
      _ = System.arraycopy(b, 0, buf, 2, b.length)
      got = outcome(Try(dataRow(UTF8String.fromBytes(buf, 2, b.length))))
      want = outcome(Try(dataReference(line)))
      if got != want
    } yield s"'$line': String $want, bytes $got"
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("data lines read as Spark's libsvm grammar: random spacing, zeros, i:v:w and order") {
    val rng = new java.util.SplittableRandom(7)
    def num(): String = rng.nextInt(6) match {
      case 0 => (rng.nextGaussian() * math.pow(10, rng.nextInt(40) - 20)).toString
      case 1 => f"${rng.nextGaussian()}%.6f"
      case 2 => (math.rint(rng.nextGaussian() * 1e6) / 1e6).toString
      case 3 => rng.nextInt(-50, 50).toString
      case 4 => java.lang.Double.longBitsToDouble(rng.nextLong()).toString
      case _ => Seq("0", "-0", "0.0", "-0.0", "+1", "1e-320", "NaN", "-Infinity", "x", "")(rng.nextInt(10))
    }
    def gap(): String = rng.nextInt(40) match {
      case 0 => "  "
      case 1 => "   "
      case 2 => "\t"
      case _ => " "
    }
    val bad = Iterator.fill(20000) {
      val sb = new StringBuilder(Seq("", " ", "\t", "\r")(rng.nextInt(4))).append(num())
      var i = 0
      (0 until rng.nextInt(20)).foreach { _ =>
        // mostly ascending, now and then repeated or descending
        i = math.max(0, i + (if (rng.nextInt(30) == 0) rng.nextInt(-2, 1) else rng.nextInt(1, 12)))
        sb.append(gap()).append(i).append(':').append(num())
        if (rng.nextInt(20) == 0) sb.append(':').append(num())
      }
      sb.append(Seq("", " ", "\t", "\r")(rng.nextInt(4))).toString
    }.flatMap { line =>
      val b = line.getBytes(UTF_8)
      val got = outcome(Try(dataRow(UTF8String.fromBytes(b, 0, b.length))))
      val want = outcome(Try(dataReference(line)))
      if (got == want) None else Some(s"'$line': String $want, bytes $got")
    }.take(5).toList
    assert(bad.isEmpty, bad.mkString("; "))
  }
}
