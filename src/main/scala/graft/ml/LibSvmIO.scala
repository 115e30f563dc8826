package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}

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
    * text sizes them by the largest last index (at least 1), and empty
    * input fails that job. Each line is then parsed once per action, into
    * an `UnsafeRow` of the label and an `UnsafeArrayData`, with no
    * `VectorUDT` and no encoder on the way. */
  def read(spark: SparkSession, path: String, numFeatures: Int = -1): DataFrame = {
    val lines = spark.read.text(path).queryExecution.toRdd
      .map(_.getUTF8String(0).toString.trim).filter(LibSvmLine.isData)
    val dim =
      if (numFeatures > 0) numFeatures
      else math.max(1, lines.map(LibSvmLine.lastIndex).reduce(math.max))
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
    val e10 = e - scale
    val v =
      if (m == 0) 0.0
      else if (e10 >= 0 && e10 <= 22) m.toDouble * Pow10(e10)
      else if (e10 < 0 && e10 >= -22) m.toDouble / Pow10(-e10)
      else return slow(s, from, until)
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
