package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** §2.1 M1: LIBSVM text format I/O (reference: psvm document.cc —
  * `label idx:val idx:val …`, 1-based sparse indices).
  *
  * Reading scans Spark's splittable text source once per pass straight
  * into primitive rows; writing re-serializes with column algebra only.
  */
object LibSvmIO {

  /** What [[read]] returns: the schema of Spark's libsvm source with its
    * `features` vectors converted to arrays. */
  private val ReadSchema = StructType(Seq(
    StructField("label", DoubleType, nullable = true),
    StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Read → (label: double, features: array<double> dense), the rows,
    * partitions, order and bits of Spark's libsvm source with its vectors
    * converted to arrays: lines are trimmed, blank and `#` lines skipped,
    * indices must ascend within [1, dim], a `-0` value reads as `+0.0`
    * (the source's sparse vectors drop explicit zeros), and an `i:v:w`
    * token reads as `v` ([[LibSvmLine.point]]). The vectors have
    * `numFeatures` entries; without it (≤ 0) one index-only job over the
    * text sizes them by the largest last index (at least 1), read off
    * each line's bytes (`LibSvmLine.lastIndex(UTF8String)`), and empty
    * input fails that job. Each line is then parsed once per action, into
    * an `UnsafeRow` of the label and an `UnsafeArrayData`, with no
    * `VectorUDT` and no encoder on the way. */
  def read(spark: SparkSession, path: String, numFeatures: Int = -1): DataFrame = {
    val text = spark.read.text(path).queryExecution.toRdd
    val lines = text.map(_.getUTF8String(0).toString.trim).filter(LibSvmLine.isData)
    val dim =
      if (numFeatures > 0) numFeatures
      else math.max(1, text.map(r => LibSvmLine.lastIndex(r.getUTF8String(0)))
        .filter(_ >= 0).reduce(math.max))
    val rows = lines.mapPartitions[InternalRow] { it =>
      val x = new Array[Double](dim)
      val row = new UnsafeRowWriter(2, 8 * (1 + (dim + 63) / 64 + dim))
      val arr = new UnsafeArrayWriter(row, 8)
      it.map { l =>
        java.util.Arrays.fill(x, 0.0)
        val label = LibSvmLine.point(l, x)
        row.reset(); row.zeroOutNullBytes()
        row.write(0, label)
        val start = row.cursor()
        arr.initialize(dim)
        var i = 0
        while (i < dim) { arr.write(i, x(i)); i += 1 }
        row.setOffsetAndSizeFromPreviousCursor(1, start)
        row.getRow
      }
    }
    GraftShim.internalCreateDataFrame(spark, rows, ReadSchema)
  }

  /** Read WITHOUT densifying → (label: double, indices: array<int>
    * 0-based ascending, values: array<double>) — the representation the
    * reference actually stores (psvm document.cc sparse rows) and the
    * only one that survives rcv1-class dimensionality: a 47k-dim row
    * with ~75 non-zeros is ~1 KB sparse vs ~370 KB densified. Plain
    * splittable text parsing (one shuffle-free columnar map); libsvm
    * lines carry ascending 1-based indices, preserved here as ascending
    * 0-based — the order the merge-join kernels require. */
  def readSparse(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(split(trim(col("value")), "\\s+").as("t"))
      .filter(size(col("t")) >= 1 && length(element_at(col("t"), 1)) > 0)
      .select(
        element_at(col("t"), 1).cast("double").as("label"),
        expr("transform(slice(t, 2, greatest(size(t) - 1, 0)), " +
             "p -> cast(split(p, ':')[0] as int) - 1)").as("indices"),
        expr("transform(slice(t, 2, greatest(size(t) - 1, 0)), " +
             "p -> cast(split(p, ':')[1] as double))").as("values"))

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

/** One-pass scanner for psvm/LIBSVM text lines (`<head> idx:val …`, the
  * SV lines of [[IcfSvmModel.loadText]]): it walks the line once and
  * writes each value straight into the vector, with no `split`, no
  * substring per token and no (index, value) tuple. Numbers parse bit for
  * bit as `String.toDouble` / `String.toInt` do, and a token those reject
  * is rejected here too.
  */
object LibSvmLine {

  /** 1e0 … 1e22: the powers of ten a double holds exactly. */
  private val Pow10 = Array(1e0, 1e1, 1e2, 1e3, 1e4, 1e5, 1e6, 1e7, 1e8, 1e9, 1e10,
    1e11, 1e12, 1e13, 1e14, 1e15, 1e16, 1e17, 1e18, 1e19, 1e20, 1e21, 1e22)

  /** An SV line as (x, coef). `x(idx − 1)` holds each `idx:val` (a later
    * entry for the same index wins); its length is `dim` when `dim > 0`,
    * else the line's largest index. An index outside [1, length] fails
    * with `SV feature index … outside [1, length]`. */
  def sv(line: String, dim: Int): (Array[Double], Double) = {
    var end = line.length
    while (end > 0 && line.charAt(end - 1) == ' ') end -= 1   // as `split(' ')` drops them
    val sp = line.indexOf(' ')
    val headEnd = if (sp < 0 || sp > end) end else sp
    val coef = double(line, 0, headEnd)
    var x = new Array[Double](if (dim > 0) dim else 16)
    var maxIdx = 0
    var badIdx = 1        // the first index below 1 when sized by the line
    var p = headEnd + 1
    while (p < end) {
      var q = line.indexOf(' ', p)
      if (q < 0) q = end
      val c = line.indexOf(':', p)
      if (c < 0 || c >= q)
        throw new NumberFormatException(s"malformed entry '${line.substring(p, q)}' (want idx:val)")
      val idx = index(line, p, c)
      val v = double(line, c + 1, q)
      if (dim > 0) {
        require(idx >= 1 && idx <= dim,
          s"SV feature index $idx outside [1, $dim] (header dim $dim)")
        x(idx - 1) = v
      } else if (idx < 1) {
        if (badIdx >= 1) badIdx = idx
      } else {
        if (idx > x.length) x = java.util.Arrays.copyOf(x, math.max(idx, 2 * x.length))
        x(idx - 1) = v
        maxIdx = math.max(maxIdx, idx)
      }
      p = q + 1
    }
    if (dim > 0) (x, coef)
    else {
      require(badIdx >= 1, s"SV feature index $badIdx outside [1, $maxIdx] (header dim $dim)")
      (if (x.length == maxIdx) x else java.util.Arrays.copyOf(x, maxIdx), coef)
    }
  }

  /** [[sv]] straight off the text source's bytes, with no `String` per
    * line, 8 bytes per step: each token's end (the next space), then the
    * `idx:val` token itself — the index's digits and the `:`, then the
    * value through [[double]]'s fast path. A value off that path is
    * parsed from its own token as [[double]] parses it. Anything else
    * out of the ordinary (a byte outside ASCII, an index that is not 1–7
    * plain digits or lies outside the vector, a token without a `:`)
    * sends the whole line through the `String` form, so values,
    * placement and error messages match that form's. */
  def sv(line: UTF8String, dim: Int): (Array[Double], Double) = {
    val r = scan(line, dim)
    if (r ne null) r else sv(line.toString, dim)
  }

  /** [[sv]]'s byte scan, or null where the line needs the `String` form.
    * The bytes are read as 8-byte words (SWAR: SIMD within a register):
    * per token, the end is the first space of the words from its start;
    * token 0 is the coefficient, each later one is `idx:val` with the
    * index's digits and the `:` in its first word. A value is on the fast
    * path when it is an optional sign, then at most 15 digits and at
    * most one `.` (16 bytes at most: two words, whose non-digit bytes are
    * counted with a mask); its digits are folded with three multiplies
    * per 8 ([[fold]]) and it is one [[exact]] operation, as in [[double]].
    * Every other value (an exponent, `NaN`, 16+ digits) is parsed from its
    * token by [[double]]. No branch depends on a value's sign, which
    * varies from token to token, and the branches on its length go one
    * way while its `.` lies in its first 8 bytes. */
  private def scan(line: UTF8String, dim: Int): (Array[Double], Double) = {
    val bytes = bytesOf(line)
    val off = offsetOf(line)
    def at(i: Int): Int = bytes(off + i)
    var end = line.numBytes
    while (end > 0 && at(end - 1) == ' ') end -= 1
    val until = off + end
    var x = new Array[Double](if (dim > 0) dim else 16)
    var maxIdx = 0
    var coef = 0.0
    var p = -1          // the space before the token (none before token 0)
    while (p < end) {
      val q = space(bytes, off + p + 1, until) - off    // the token's end
      var i = p + 1
      var idx = 0
      if (p >= 0) {
        // the index: 1–7 plain digits, then a `:`, in the token's first word
        val d = word(bytes, off + i, until) ^ Zeros
        val n = java.lang.Long.numberOfTrailingZeros(nonDigits(d)) >>> 3
        if (n == 0 || n == 8 || i + n >= q || ((d >>> (8 * n)) & 0xFF) != (':' ^ '0')) return null
        idx = fold8(d, n).toInt
        if (idx < 1 || (dim > 0 && idx > dim)) return null
        i += n + 1
      }
      val from = i
      // the sign in arithmetic, not in a branch: half the values are
      // negative, and a branch on it mispredicts on about every other value
      val c0 = if (i < q) at(i) & 0xFF else 0
      val minus = ((c0 ^ '-') - 1) >>> 31          // 1 for '-', else 0
      val sign = minus.toLong << 63
      i += minus + (((c0 ^ '+') - 1) >>> 31)
      val len = q - i
      var v = Double.NaN
      if (len > 0 && len <= 16) {
        val lo = nonDigits(word(bytes, off + i, until) ^ Zeros) & FirstBytes(math.min(len, 8))
        val hi = nonDigits(word(bytes, off + i + 8, until) ^ Zeros) & FirstBytes(math.max(len - 8, 0))
        val others = java.lang.Long.bitCount(lo) + java.lang.Long.bitCount(hi)
        val dot =
          if (lo != 0) java.lang.Long.numberOfTrailingZeros(lo) >>> 3
          else if (hi != 0) 8 + (java.lang.Long.numberOfTrailingZeros(hi) >>> 3)
          else len
        if ((others == 0 || others == 1 && at(i + dot) == '.') && len > others && len - others <= 15) {
          val scale = len - math.min(dot + 1, len)
          val m = fold(bytes, off + i, dot, until) * Pow10L(scale) +
            fold(bytes, off + i + dot + 1, scale, until)
          v = java.lang.Double.longBitsToDouble(
            java.lang.Double.doubleToRawLongBits(exact(m, -scale, neg = false)) ^ sign)
        }
      }
      if (v != v) {
        // off the fast path: the token as a String, parsed as `double` does
        i = from
        while (i < q) { if (at(i) < 0) return null; i += 1 }
        val t = new String(Array.tabulate(q - from)(k => at(from + k).toChar))
        v = double(t, 0, t.length)
      }
      if (p < 0) coef = v
      else {
        if (dim <= 0) {
          if (idx > x.length) x = java.util.Arrays.copyOf(x, math.max(idx, 2 * x.length))
          maxIdx = math.max(maxIdx, idx)
        }
        x(idx - 1) = v
      }
      p = q
    }
    if (dim > 0) (x, coef)
    else (if (x.length == maxIdx) x else java.util.Arrays.copyOf(x, maxIdx), coef)
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

  /** Whether a trimmed LIBSVM line holds a row: not blank, not a `#` comment. */
  def isData(line: String): Boolean = line.nonEmpty && line.charAt(0) != '#'

  /** A trimmed LIBSVM data line (`label idx:val …`) as Spark's libsvm
    * source reads it into a dense vector: `x` (all zeros on entry, its
    * length the feature count) gets each non-zero value at its 0-based
    * index, and the label is returned. Tokens split on single spaces
    * (runs of spaces are skipped) and `idx:val` on the first two colons,
    * so `1:2:3` reads as 2; indices must ascend strictly and lie in
    * [1, x.length]; a zero (or `-0`) value leaves `+0.0`, as the source's
    * sparse vectors drop explicit zeros. Numbers parse as `String.toDouble`
    * / `String.toInt`, and a token those (or the source) reject fails. */
  def point(line: String, x: Array[Double]): Double = {
    val end = line.length
    val sp = line.indexOf(' ')
    val headEnd = if (sp < 0) end else sp
    val label = double(line, 0, headEnd)
    var prev = -1
    var p = headEnd + 1
    while (p < end) {
      var q = line.indexOf(' ', p)
      if (q < 0) q = end
      if (q > p) {
        val c = line.indexOf(':', p)
        if (c < 0 || c >= q) malformed(line, p, q)
        var v = line.indexOf(':', c + 1)   // a second colon ends the value
        if (v < 0 || v > q) v = q
        if (v == c + 1) malformed(line, p, q)
        val i = index(line, p, c) - 1
        require(i > prev, "indices should be one-based and in ascending order; " +
          s"found current=$i, previous=$prev; line=\"$line\"")
        require(i < x.length, s"index ${i + 1} above the feature count ${x.length}; line=\"$line\"")
        val d = double(line, c + 1, v)
        if (d != 0.0) x(i) = d
        prev = i
      }
      p = q + 1
    }
    label
  }

  /** The 1-based index of a trimmed LIBSVM data line's last `idx:val`
    * token, 0 for a label-only line: all that sizing the vectors needs,
    * read without parsing a value. [[point]] checks the rest. */
  def lastIndex(line: String): Int = {
    val sp = line.lastIndexOf(' ')
    if (sp < 0) 0
    else {
      val c = line.indexOf(':', sp + 1)
      if (c < 0) malformed(line, sp + 1, line.length)
      index(line, sp + 1, c)
    }
  }

  /** [[lastIndex]] of a raw text line, read off its bytes without a
    * `String`: −1 for a line that is not a row (blank or `#`, after the
    * trim [[LibSvmIO.read]] applies). A line whose first or last
    * non-space byte is not a printable ASCII character (a tab, a `\r`,
    * a multi-byte character) or is a `#`, or whose last token is not 1–9
    * plain digits and a `:`, goes through the `String` form, so values
    * and exceptions match that form's. */
  def lastIndex(line: UTF8String): Int = {
    val bytes = bytesOf(line)
    val off = offsetOf(line)
    def at(i: Int): Int = bytes(off + i)
    var start = 0
    var end = line.numBytes
    while (start < end && at(start) == ' ') start += 1
    while (end > start && at(end - 1) == ' ') end -= 1
    if (start == end) return -1
    val plain = at(start) > ' ' && at(start) != '#' && at(end - 1) > ' '
    var t = end     // the last token's start
    while (t > start && at(t - 1) != ' ') t -= 1
    var i = t
    var v = 0
    while (i < end && i - t < 10 && at(i) >= '0' && at(i) <= '9') { v = v * 10 + at(i) - '0'; i += 1 }
    if (plain && t == start) 0
    else if (plain && i > t && i - t <= 9 && i < end && at(i) == ':') v
    else {
      val s = line.toString.trim
      if (isData(s)) lastIndex(s) else -1
    }
  }

  private def malformed(line: String, from: Int, until: Int): Nothing =
    throw new NumberFormatException(
      s"malformed entry '${line.substring(from, until)}' (want idx:val) in line \"$line\"")

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
