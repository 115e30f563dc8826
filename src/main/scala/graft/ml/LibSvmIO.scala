package graft.ml

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** §2.1 M1: LIBSVM text format I/O (reference: psvm document.cc —
  * `label idx:val idx:val …`, 1-based sparse indices).
  *
  * Reading scans each line of Spark's splittable text source once per
  * pass with [[LibSvmLine]], straight from the row's bytes into
  * primitive rows; writing re-serializes with column algebra only.
  */
object LibSvmIO {

  /** What [[read]] returns: the schema of Spark's libsvm source with its
    * `features` vectors converted to arrays. */
  private val ReadSchema = StructType(Seq(
    StructField("label", DoubleType, nullable = true),
    StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** What [[readSparse]] returns. */
  private val SparseSchema = StructType(Seq(
    StructField("label", DoubleType, nullable = true),
    StructField("indices", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("values", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Read → (label: double, features: array<double> dense), the rows,
    * partitions, order and bits of Spark's libsvm source with its vectors
    * converted to arrays: lines are trimmed, blank and `#` lines skipped,
    * indices must ascend within [1, dim], a `-0` value reads as `+0.0`
    * (the source's sparse vectors drop explicit zeros), and an `i:v:w`
    * token reads as `v` ([[LibSvmLine.row]]). The vectors have
    * `numFeatures` entries; without it (≤ 0) one job over the text sizes
    * them by the largest last index (at least 1), and empty input fails
    * that job. Each line is scanned once per pass by [[LibSvmLine]] off
    * the text row's bytes (no `String` per line) and written as an
    * `UnsafeRow` of the label and an `UnsafeArrayData`, with no
    * `VectorUDT` and no encoder on the way. */
  def read(spark: SparkSession, path: String, numFeatures: Int = -1): DataFrame = {
    val text = spark.read.text(path).queryExecution.toRdd
    val dim =
      if (numFeatures > 0) numFeatures
      else math.max(1, text.mapPartitions(LibSvmLine.rows(_, Int.MaxValue).map(_.lastIndex))
        .reduce(math.max))
    val dense = text.mapPartitions[InternalRow] { it =>
      val row = new UnsafeRowWriter(2, 8 * (1 + (dim + 63) / 64 + dim))
      val arr = new UnsafeArrayWriter(row, 8)
      LibSvmLine.rows(it, dim).map { s =>
        row.reset(); row.zeroOutNullBytes()
        row.write(0, s.label)
        val start = row.cursor()
        arr.initialize(dim)
        var i = 0
        while (i < dim) { arr.write(i, 0.0); i += 1 }
        var k = 0
        while (k < s.n) { arr.write(s.idx(k) - 1, s.vals(k)); k += 1 }
        row.setOffsetAndSizeFromPreviousCursor(1, start)
        row.getRow
      }
    }
    GraftShim.internalCreateDataFrame(spark, dense, ReadSchema)
  }

  /** Read WITHOUT densifying → (label: double, indices: array<int>
    * 0-based ascending, values: array<double>) — the representation the
    * reference actually stores (psvm document.cc sparse rows) and the
    * only one that survives rcv1-class dimensionality: a 47k-dim row
    * with ~75 non-zeros is ~1 KB sparse vs ~370 KB densified. The rows,
    * partitions and entries are those of the `features` sparse vectors
    * of Spark's libsvm source, as [[read]] scans them: blank and `#`
    * lines skipped, indices strictly ascending (the order the merge-join
    * kernels require), explicit zeros dropped, `i:v:w` read as `v`. */
  def readSparse(spark: SparkSession, path: String): DataFrame = {
    val text = spark.read.text(path).queryExecution.toRdd
    val sparse = text.mapPartitions(LibSvmLine.rows(_, Int.MaxValue).map { s =>
      val indices = new Array[Int](s.n)
      var k = 0
      while (k < s.n) { indices(k) = s.idx(k) - 1; k += 1 }
      InternalRow(s.label, UnsafeArrayData.fromPrimitiveArray(indices),
        UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(s.vals, s.n)))
    })
    GraftShim.internalCreateDataFrame(spark, sparse, SparseSchema)
  }

  /** Write (labelCol, idxCol: array<int> 0-based, valCol: array<double>)
    * as LIBSVM text (1-based indices on disk). */
  def writeSparse(df: DataFrame, labelCol: String, idxCol: String,
                  valCol: String, path: String): Unit =
    df.select(concat_ws(" ",
        col(labelCol).cast("string"),
        array_join(zip_with(col(idxCol), col(valCol),
          (i, v) => concat((i + 1).cast("string"), lit(":"), v.cast("string"))), " "))
      .as("line"))
      .write.mode("overwrite").text(path)

  /** Write (labelCol, vecCol: array<double>) as LIBSVM text. */
  def write(df: DataFrame, labelCol: String, vecCol: String, path: String): Unit =
    df.select(concat_ws(" ",
        col(labelCol).cast("string"),
        array_join(expr(
          s"transform(filter(arrays_zip(sequence(1, size($vecCol)), $vecCol), " +
          s"p -> p.$vecCol <> 0.0d), " +
          s"p -> concat(cast(p.`0` as string), ':', cast(p.$vecCol as string)))"), " "))
      .as("line"))
      .write.mode("overwrite").text(path)
}

/** The one scanner of psvm/LIBSVM text lines (`label idx:val …`, psvm
  * document.cc): the training and test data of [[LibSvmIO.read]] and
  * [[LibSvmIO.readSparse]], and the SV lines of [[IcfSvmModel.loadText]].
  * [[scan]] walks a text row's bytes once, 8 at a time, into the line's
  * label and its (index, value) entries as read; each caller then
  * applies its own placement policy to those entries ([[sv]], [[row]]).
  * A token off the word-wise fast path is decoded by itself and parsed
  * by [[LibSvmLine.double]] or [[LibSvmLine.index]], so every number is
  * bit for bit `String.toDouble` / `String.toInt` and every token those
  * reject fails; no line is decoded to a `String` but for an error
  * message. One scanner serves one task: its entry buffers are reused
  * from line to line, and hold the last line's entries.
  */
final class LibSvmLine {
  import LibSvmLine._

  /** The last line's label (an SV line's coefficient). */
  private[ml] var label = 0.0
  /** The last line's entries: `n` 1-based indices and their values. */
  private[ml] var n = 0
  private[ml] var idx = new Array[Int](16)
  private[ml] var vals = new Array[Double](16)
  /** The last data line's last index, zero value or not (0 for a
    * label-only line): the size that line needs ([[row]]). */
  private[ml] var lastIndex = 0

  /** An SV line as (x, coef). `x(idx − 1)` holds each `idx:val` (a later
    * entry for the same index wins); its length is `dim` when `dim > 0`,
    * else the line's largest index. An index outside [1, length] fails
    * with `SV feature index … outside [1, length] (header dim …)`. */
  def sv(line: UTF8String, dim: Int): (Array[Double], Double) = {
    scan(line, data = false)
    var size = dim
    if (dim <= 0) {
      size = 0
      var k = 0
      while (k < n) { size = math.max(size, idx(k)); k += 1 }
    }
    val x = new Array[Double](size)
    var k = 0
    while (k < n) {
      val i = idx(k)
      if (i < 1 || i > size) throw new IllegalArgumentException(
        s"requirement failed: SV feature index $i outside [1, $size] (header dim $dim)")
      x(i - 1) = vals(k)
      k += 1
    }
    (x, label)
  }

  /** A data line as Spark's libsvm source reads it (`MLUtils.parseLibSVMRecord`
    * on the trimmed line, then a sparse vector of `dim` entries): false
    * for a blank or `#` line, else the label and the non-zero entries
    * (a `-0` is a zero), whose indices ascend strictly within [1, dim].
    * [[lastIndex]] is the last index, zero value or not. */
  def row(line: UTF8String, dim: Int): Boolean = {
    if (!scan(line, data = true)) return false
    var prev = 0
    var m = 0
    var k = 0
    while (k < n) {
      val i = idx(k)
      require(i > prev, "indices should be one-based and in ascending order; " +
        s"found current=${i - 1}, previous=${prev - 1}; line=\"$line\"")
      if (vals(k) != 0.0) { idx(m) = i; vals(m) = vals(k); m += 1 }
      prev = i
      k += 1
    }
    require(prev <= dim, s"index $prev above the feature count $dim; line=\"$line\"")
    lastIndex = prev
    n = m
    true
  }

  /** Reads `line` into [[label]] and the entries, as read, by one of two
    * grammars. The data grammar (`data`) is that of Spark's libsvm
    * source: the line is trimmed as `String.trim` trims (the bytes
    * 0x00–0x20, compared unsigned, as a multi-byte character's bytes are
    * negative as Java bytes), a blank or `#` line holds no row (false),
    * runs of spaces are skipped, and a value ends at a second `:`
    * (`i:v:w` reads as `v`). The SV grammar is a single-space split with
    * `toInt` and `toDouble` on psvm's SV lines: trailing spaces are
    * dropped, and every other token, empty or not, is `idx:val` with the
    * value to the token's end.
    *
    * The bytes are read as 8-byte words (SWAR: SIMD within a register):
    * per token, the end is the first space of the words from its start.
    * Token 0 is the label; each later one is `idx:val`, with the index's
    * 1–7 digits and the `:` in its first word, and the value read by
    * [[value]]. An index off that path (a sign, 8+ digits, a byte outside
    * ASCII) is decoded by itself and parsed by [[index]]. */
  private def scan(line: UTF8String, data: Boolean): Boolean = {
    val bytes = bytesOf(line)
    val off = offsetOf(line)
    def at(i: Int): Int = bytes(off + i)
    var start = 0
    var end = line.numBytes
    if (data) {
      while (start < end && (at(start) & 0xFF) <= ' ') start += 1
      while (end > start && (at(end - 1) & 0xFF) <= ' ') end -= 1
      if (start == end || at(start) == '#') return false
    } else while (end > 0 && at(end - 1) == ' ') end -= 1
    val until = off + end
    // an entry takes 2 bytes at least (its `:`, a space before it)
    if (idx.length <= (end - start) / 2) {
      idx = new Array[Int]((end - start) / 2 + 1)
      vals = new Array[Double](idx.length)
    }
    val ids = idx
    val vs = vals
    var p = space(bytes, off + start, until) - off   // the label's end
    label = value(bytes, off + start, off + p, until, colonEnds = false)
    var k = 0
    while (p < end) {
      val q = space(bytes, off + p + 1, until) - off    // the token's end
      if (q > p + 1 || !data) {   // the data grammar skips a run's empty tokens
        // the index: 1–7 plain digits, then a `:`, in the token's first word
        var i = p + 1
        val d = word(bytes, off + i, until) ^ Zeros
        val digits = java.lang.Long.numberOfTrailingZeros(nonDigits(d)) >>> 3
        if (digits > 0 && digits < 8 && i + digits < q &&
            ((d >>> (8 * digits)) & 0xFF) == (':' ^ '0')) {
          ids(k) = fold8(d, digits).toInt
          i += digits + 1
        } else {
          val c = colon(bytes, off + i, off + q) - off
          ids(k) = offIndex(line, bytes, off + i, off + c, off + q)
          i = c + 1
        }
        vs(k) = value(bytes, off + i, off + q, until, colonEnds = data)
        k += 1
      }
      p = q
    }
    n = k
    true
  }
}

object LibSvmLine {

  /** 1e0 … 1e22: the powers of ten a double holds exactly. */
  private val Pow10 = Array(1e0, 1e1, 1e2, 1e3, 1e4, 1e5, 1e6, 1e7, 1e8, 1e9, 1e10,
    1e11, 1e12, 1e13, 1e14, 1e15, 1e16, 1e17, 1e18, 1e19, 1e20, 1e21, 1e22)

  /** The data rows among a text source's rows, each read by
    * [[LibSvmLine.row]] (within [1, dim]) into one scanner, which the
    * iterator returns for each: use it before taking the next. */
  private[ml] def rows(text: Iterator[InternalRow], dim: Int): Iterator[LibSvmLine] = {
    val s = new LibSvmLine
    text.filter(r => s.row(r.getUTF8String(0), dim)).map(_ => s)
  }

  /** The byte array holding `line`'s bytes: a text row's own (read in
    * place), else a copy. */
  private def bytesOf(line: UTF8String): Array[Byte] = line.getBaseObject match {
    case b: Array[Byte] => b
    case _ => line.getBytes
  }

  /** Where `line`'s bytes start in [[bytesOf]]. */
  private def offsetOf(line: UTF8String): Int =
    if (line.getBaseObject.isInstanceOf[Array[Byte]])
      (line.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
    else 0

  /** 1e0 … 1e15 as longs. */
  private val Pow10L = Array.iterate(1L, 16)(_ * 10)
  private val LittleEndian = java.nio.ByteOrder.nativeOrder == java.nio.ByteOrder.LITTLE_ENDIAN
  /** Eight '0' bytes: a word xor this holds each digit byte as its value. */
  private final val Zeros = 0x3030303030303030L
  /** FirstBytes(n): a mask of a word's first n (0–8) bytes, from a table
    * rather than a branch, as a value's length varies token to token. */
  private val FirstBytes = Array.tabulate(9)(n => if (n == 8) -1L else (1L << (8 * n)) - 1)

  /** The 8 bytes from `b(i)` as a long, `b(i)` its lowest byte: one load
    * while they lie inside `b` (bytes past `until` are loaded, and the
    * callers mask or stop before them), else the bytes below `until` with
    * 0 (neither a digit nor a space) above them. */
  private def word(b: Array[Byte], i: Int, until: Int): Long =
    if (i + 8 <= b.length) {
      val w = Platform.getLong(b, Platform.BYTE_ARRAY_OFFSET + i.toLong)
      if (LittleEndian) w else java.lang.Long.reverseBytes(w)
    } else {
      var w = 0L
      var k = math.min(until, i + 8) - 1
      while (k >= i) { w = (w << 8) | (b(k) & 0xFF); k -= 1 }
      w
    }

  /** The index of the first space at or after `b(from)`, or `until`. A
    * space is a zero byte of the word xor 0x20s, and the lowest byte the
    * zero-byte test flags is exact. */
  private def space(b: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    var len = 8
    while (len == 8 && i < until) {
      val z = word(b, i, until) ^ 0x2020202020202020L
      val zero = (z - 0x0101010101010101L) & ~z & 0x8080808080808080L
      len = math.min(java.lang.Long.numberOfTrailingZeros(zero) >>> 3, until - i)
      i += len
    }
    i
  }

  /** The top bit of each byte of `d` (a word xor [[Zeros]]) that is not
    * an ASCII digit: a byte is a digit when its xor with '0' is below 10,
    * that is when neither its top bit nor that of (its low 7 bits + 0x76)
    * is set (no carry crosses a byte). */
  private def nonDigits(d: Long): Long =
    (((d & 0x7F7F7F7F7F7F7F7FL) + 0x7676767676767676L) | d) & 0x8080808080808080L

  /** The value of the first `n` (0–8) digit bytes of `d` (a word xor
    * [[Zeros]]): moved to the word's top (the first one most significant,
    * zeros below), then folded pairwise, in fours and in eights with
    * three multiplies. */
  private def fold8(d: Long, n: Int): Long =
    if (n == 0) 0L
    else {
      var v = d << (64 - 8 * n)
      v = ((v * 2561) >>> 8) & 0x00FF00FF00FF00FFL               // 10·a + b
      v = ((v * 6553601) >>> 16) & 0x0000FFFF0000FFFFL          // 100·ab + cd
      (v * 42949672960001L) >>> 32                              // 10⁴·abcd + efgh
    }

  /** The value of the `n` (0–16) digits at `b(from)`. */
  private def fold(b: Array[Byte], from: Int, n: Int, until: Int): Long =
    if (n <= 8) fold8(word(b, from, until) ^ Zeros, n)
    else fold8(word(b, from, until) ^ Zeros, 8) * Pow10L(n - 8) +
      fold8(word(b, from + 8, until) ^ Zeros, n - 8)

  /** The index of an `idx:val` token `b(from until end)` off the fast
    * path, its `:` at `colon` (`end` when it has none), parsed by
    * [[index]]. */
  private def offIndex(line: UTF8String, b: Array[Byte], from: Int, colon: Int, end: Int): Int = {
    if (colon == end) throw new NumberFormatException(
      s"malformed entry '${decode(b, from, end)}' (want idx:val) in line \"$line\"")
    val t = decode(b, from, colon)
    index(t, 0, t.length)
  }

  /** The value token `b(from until q)` (`until`: the line's end in `b`).
    * On the fast path, an optional sign, then at most 15 digits and at
    * most one `.` (16 bytes at most: two words, whose non-digit bytes are
    * counted with a mask), its digits are folded with three multiplies
    * per 8 ([[fold]]) and it is one [[exact]] operation, as in [[double]].
    * Every other value (an exponent, `NaN`, 16+ digits, a byte outside
    * ASCII) is decoded by itself, up to its first `:` when `colonEnds`,
    * and parsed by [[double]]. No branch depends on a value's sign, which
    * varies from token to token, and the branches on its length go one
    * way while its `.` lies in its first 8 bytes. */
  private def value(b: Array[Byte], from: Int, q: Int, until: Int, colonEnds: Boolean): Double = {
    // the sign in arithmetic, not in a branch: half the values are
    // negative, and a branch on it mispredicts on about every other value
    var i = from
    val c0 = if (i < q) b(i) & 0xFF else 0
    val minus = ((c0 ^ '-') - 1) >>> 31          // 1 for '-', else 0
    val sign = minus.toLong << 63
    i += minus + (((c0 ^ '+') - 1) >>> 31)
    val len = q - i
    if (len > 0 && len <= 16) {
      val lo = nonDigits(word(b, i, until) ^ Zeros) & FirstBytes(math.min(len, 8))
      val hi = nonDigits(word(b, i + 8, until) ^ Zeros) & FirstBytes(math.max(len - 8, 0))
      val others = java.lang.Long.bitCount(lo) + java.lang.Long.bitCount(hi)
      val dot =
        if (lo != 0) java.lang.Long.numberOfTrailingZeros(lo) >>> 3
        else if (hi != 0) 8 + (java.lang.Long.numberOfTrailingZeros(hi) >>> 3)
        else len
      if ((others == 0 || others == 1 && b(i + dot) == '.') && len > others && len - others <= 15) {
        val scale = len - math.min(dot + 1, len)
        val m = fold(b, i, dot, until) * Pow10L(scale) + fold(b, i + dot + 1, scale, until)
        return java.lang.Double.longBitsToDouble(
          java.lang.Double.doubleToRawLongBits(exact(m, -scale, neg = false)) ^ sign)
      }
    }
    // off the fast path: the value by itself, parsed as `double` does
    val t = decode(b, from, if (colonEnds) colon(b, from, q) else q)
    double(t, 0, t.length)
  }

  /** The index of the first `:` in `b(from until until)`, or `until`. */
  private def colon(b: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i < until && b(i) != ':') i += 1
    i
  }

  /** `b(from until until)` as UTF-8 text: one token, off the fast path. */
  private def decode(b: Array[Byte], from: Int, until: Int): String =
    new String(b, from, until - from, UTF_8)

  /** `s.substring(from, until).toDouble`, bit for bit. A plain decimal
    * with at most 15 significant digits and a decimal exponent within
    * ±22 is one IEEE multiply or divide of two exact doubles, so one
    * correctly rounded operation (Clinger's fast path); every other token
    * goes to `java.lang.Double.parseDouble`. */
  def double(s: String, from: Int, until: Int): Double = {
    var i = from
    val neg = i < until && s.charAt(i) == '-'
    if (i < until && (s.charAt(i) == '-' || s.charAt(i) == '+')) i += 1
    var m = 0L; var sig = 0; var scale = 0; var digits = 0
    var c = 0
    while (i < until && { c = s.charAt(i) - '0'; c >= 0 && c <= 9 }) {
      if (m != 0 || c != 0) sig += 1
      m = m * 10 + c; digits += 1; i += 1
      if (sig > 15) return slow(s, from, until)
    }
    if (i < until && s.charAt(i) == '.') {
      i += 1
      while (i < until && { c = s.charAt(i) - '0'; c >= 0 && c <= 9 }) {
        if (m != 0 || c != 0) sig += 1
        m = m * 10 + c; digits += 1; scale += 1; i += 1
        if (sig > 15) return slow(s, from, until)
      }
    }
    if (digits == 0) return slow(s, from, until)
    var e = 0
    if (i < until && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
      i += 1
      val eNeg = i < until && s.charAt(i) == '-'
      if (i < until && (s.charAt(i) == '-' || s.charAt(i) == '+')) i += 1
      val e0 = i
      while (i < until && { c = s.charAt(i) - '0'; c >= 0 && c <= 9 }) {
        e = e * 10 + c; i += 1
        if (e > 1000) return slow(s, from, until)
      }
      if (i == e0) return slow(s, from, until)
      if (eNeg) e = -e
    }
    if (i != until) return slow(s, from, until)
    val v = exact(m, e - scale, neg)
    if (v == v) v else slow(s, from, until)
  }

  /** ±m·10^e10 as one correctly rounded operation on two exact doubles
    * (m below 10^15 fits a double exactly); NaN when |e10| > 22. */
  private def exact(m: Long, e10: Int, neg: Boolean): Double = {
    val v =
      if (m == 0) 0.0
      else if (e10 >= 0 && e10 <= 22) m.toDouble * Pow10(e10)
      else if (e10 < 0 && e10 >= -22) m.toDouble / Pow10(-e10)
      else return Double.NaN
    if (neg) -v else v
  }

  private def slow(s: String, from: Int, until: Int): Double =
    java.lang.Double.parseDouble(s.substring(from, until))

  /** `s.substring(from, until).toInt`: plain digits inline, anything
    * else (a sign, an overflow, garbage) through `Integer.parseInt`. */
  def index(s: String, from: Int, until: Int): Int = {
    if (until - from < 1 || until - from > 9) return Integer.parseInt(s.substring(from, until))
    var v = 0; var i = from
    while (i < until) {
      val c = s.charAt(i) - '0'
      if (c < 0 || c > 9) return Integer.parseInt(s.substring(from, until))
      v = v * 10 + c; i += 1
    }
    v
  }
}
